"""Lowering stages: ConstraintNode DAG -> executable form.

- arrow_backend: DAG x Spark DataType -> pyarrow kernels, for
  statically-typed rows. apply_typed's one engine: verdicts and coded
  violation rows from one mapInArrow stage, in batch and streaming.
- pyeval: DAG -> Python closures, for dynamic (schemaless) JSON
  documents. Runs inside Arrow-batched pandas UDFs; the per-document
  analogue of jvst's VM run (src/validate_vm.c:1136-1592).
- json_builtin: DAG -> variant Columns, the dynamic-JSON violation
  rows of the specs it lowers.
"""
