"""Table-level checks — the north-rule extensions jvst cannot express.

jvst's scope is one document (src/validate.h:6-14: one VM run per doc);
its per-array uniqueItems machinery (src/validate_uniq.c) is the
in-miniature analogue of these cross-row checks:

- uniqueness.py: key uniqueness across the table (HLL++ prefilter +
  one exact groupBy whose map-side combine absorbs hot keys)
- referential.py: FK integrity via a left-anti join whose strategy the
  planner and AQE choose
- drift.py: distribution drift (KS statistic + PSI) via binned
  aggregations against a baseline histogram
"""
