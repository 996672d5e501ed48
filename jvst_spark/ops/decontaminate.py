"""Benchmark decontamination: flag training documents whose word
k-gram shingles overlap an evaluation/benchmark set.

The standard LLM training-data hygiene step (GPT-3 appendix C /
PaLM-style n-gram collision checks): any training document sharing
too many k-grams with a benchmark document leaks the benchmark.

Scale story (the 100 TB shape):
- the benchmark side is tiny relative to the corpus (eval suites are
  thousands of documents, the corpus is billions) — its distinct
  shingle set builds in one small-side aggregation and BROADCASTS;
- the corpus is scanned ONCE; shingling is a per-row Column
  expression (no UDF), and the per-doc shingle count rides along the
  explode so totals never need a second corpus pass or a corpus-wide
  join;
- only (doc_id, gram) rows that HIT the broadcast benchmark set
  survive into the per-doc aggregation, so the one shuffle is bounded
  by the contamination volume, not the corpus size. Clean corpora
  shuffle almost nothing.

Output contract: one row per document with >= 1 matching shingle
(documents with zero overlap are by definition uncontaminated and are
not materialized — at corpus scale that is the only sane contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jvst_spark.ops.text import tokens, word_shingles


def benchmark_ngram_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 5,
    threshold: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Per-document k-gram overlap against the benchmark shingle set.

    Returns (doc_id, n_grams, n_matched, overlap_frac, contaminated)
    for every corpus document sharing at least one distinct k-gram
    with any benchmark document. overlap_frac is measured against the
    document's own distinct-shingle count (containment, not Jaccard:
    a short benchmark prompt embedded in a long page must still
    flag the page's grams that leak, independent of page length).
    """
    bench_grams = (
        benchmark.select(
            F.explode(word_shingles(tokens(F.col(text_col)), k)).alias(
                "gram"
            )
        )
        .distinct()
    )

    # n_grams must ride INSIDE the exploded struct: a sibling
    # projection of packed["n_grams"] beside explode(packed["grams"])
    # lands in the Project ABOVE the Generate, where it re-evaluates
    # the whole shingle build once per exploded row — O(grams^2) per
    # document (measured: 15 s -> minutes at sf0.1 depending on the
    # codegen path). With the struct emitted by the Generate itself
    # the build runs once per document and the per-element size() is
    # an O(1) length lookup on the let-bound array.
    from jvst_spark.ops._expr import let_bound

    exploded = corpus.select(
        "doc_id",
        F.explode(
            let_bound(
                word_shingles(tokens(F.col(text_col)), k),
                lambda g: F.transform(
                    g,
                    lambda x: F.struct(
                        F.size(g).alias("n_grams"), x.alias("gram")
                    ),
                ),
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.n_grams").alias("n_grams"), F.col("e.gram").alias("gram"))

    matched = (
        exploded.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(
            F.max("n_grams").alias("n_grams"),
            F.count("*").alias("n_matched"),
        )
    )
    frac = F.round(
        F.col("n_matched") / F.greatest(F.col("n_grams"), F.lit(1)), 6
    )
    return matched.select(
        "doc_id",
        "n_grams",
        "n_matched",
        frac.alias("overlap_frac"),
        (frac >= F.lit(float(threshold))).alias("contaminated"),
    )


def exact_snippet_overlap(
    corpus: DataFrame,
    snippets: DataFrame,
    text_col: str = "text",
    snip_col: str = "snippet",
    snip_id_col: str = "snip_id",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring benchmark contamination: flag corpus documents
    that contain any evaluation snippet VERBATIM (the strictest
    decontamination rule — n-gram overlap catches paraphrase-ish
    leaks, this catches the copy-paste ones with zero false
    positives).

    Scale story (round-6): the broadcast nested-loop `contains` costs
    O(docs x snippets x text-length) — at bench scale (50k docs x 516
    snippets) that was the whole query. Snippets of >= 7 whitespace
    tokens are instead PRE-FILTERED by an interior-token 5-gram
    equi-join: if a snippet "w1 w2 ... wk" occurs as a character
    substring of text, its interior tokens w2..w(k-1) necessarily
    appear as complete, consecutive whitespace tokens of text (each is
    flanked by the match's own spaces; w1 and wk may be the tail and
    head of longer text tokens), so with k >= 7 text's token 5-gram
    set must contain "w2 w3 w4 w5 w6". Candidate (doc, snippet) pairs
    come from one corpus gram explode joined to the broadcast
    snippet-gram table; the exact `contains` verifies only candidates.
    False positives cost one contains each; no false negatives, so
    output is identical. Snippets shorter than 7 tokens (no interior
    5-gram) keep the plain broadcast nested-loop route; both routes union
    before the rollup. Empty-token filtering on BOTH sides keeps the
    necessary condition exact under repeated spaces.

    Returns one row per contaminated document: (doc_id, n_hits,
    first_snip) — documents with zero hits are by definition clean and
    are not materialized (same contract as benchmark_ngram_overlap).

    Empty/NULL snippets are dropped defensively: contains('') is true
    on EVERY document, so one zero-length eval row would flag the
    whole corpus and break the bounded-output contract.
    """
    from jvst_spark.ops._expr import let_bound

    snips = snippets.filter(
        F.col(snip_col).isNotNull() & (F.length(snip_col) > 0)
    )
    # raw (NOT lowercased) whitespace tokens on both sides: `contains`
    # is case-exact, so the prefilter must be too
    def raw_toks(c):
        return F.filter(F.split(c, " "), lambda t: F.length(t) > 0)

    n_snip_toks = F.size(raw_toks(F.col(snip_col)))
    # interior 5-gram of the snippet: tokens 2..6 (1-based slice),
    # all interior only when the snippet has >= 7 tokens
    snip_gram = F.concat_ws(
        " ", F.slice(raw_toks(F.col(snip_col)), 2, 5)
    )
    long_snips = snips.filter(n_snip_toks >= 7).select(
        F.col(snip_id_col).alias("_sid"),
        F.col(snip_col).alias("_snippet"),
        snip_gram.alias("_gram"),
    )
    short_snips = snips.filter(n_snip_toks < 7)

    # corpus token 5-grams (positional, not distinct — dedup happens on
    # the (doc, snippet) candidate level); token array let-bound so the
    # per-gram slice reads an attribute
    def grams_of(tk):
        n = F.size(tk)
        return F.when(
            n >= 5,
            F.transform(
                F.sequence(F.lit(0), n - 5),
                lambda i: F.concat_ws(" ", F.slice(tk, i + 1, 5)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    corpus_grams = corpus.select(
        F.col(id_col).alias("_cid"),
        F.explode(
            let_bound(raw_toks(F.col(text_col)), grams_of)
        ).alias("_gram"),
    )
    cand = (
        corpus_grams.join(F.broadcast(long_snips), "_gram")
        .select("_cid", "_sid", "_snippet")
        .distinct()
    )
    # alias-qualified references: a snippet frame derived from the
    # same documents table legitimately carries text/doc_id columns of
    # its own, and the two frames often share LINEAGE (corpus rows
    # planted from the snippet set), which defeats dataframe-attribute
    # qualification — explicit string aliases survive both
    c = corpus.alias("_jvst_corpus")
    # no broadcast hint on cand: its size is set by the data
    verified = (
        c.join(cand, F.col(f"_jvst_corpus.{id_col}") == F.col("_cid"))
        .filter(
            F.col(f"_jvst_corpus.{text_col}").contains(F.col("_snippet"))
        )
        .select(
            F.col(f"_jvst_corpus.{id_col}").alias("_hit_id"),
            F.col("_sid").alias("_hit_sid"),
        )
    )
    sn = short_snips.alias("_jvst_snips")
    short_hits = c.join(
        F.broadcast(sn),
        F.col(f"_jvst_corpus.{text_col}").contains(
            F.col(f"_jvst_snips.{snip_col}")
        ),
    ).select(
        F.col(f"_jvst_corpus.{id_col}").alias("_hit_id"),
        F.col(f"_jvst_snips.{snip_id_col}").alias("_hit_sid"),
    )
    return (
        verified.unionAll(short_hits)
        .groupBy(F.col("_hit_id").alias(id_col))
        .agg(
            F.count("*").alias("n_hits"),
            F.min("_hit_sid").alias("first_snip"),
        )
    )
