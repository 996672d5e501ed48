"""ensure_min_parallelism: conditional repartition for CPU-bound
stages. Narrow inputs widen to the cluster's parallelism; already-wide
inputs pass through with NO added Exchange (the at-scale case)."""

from jvst_spark.ops._parallel import ensure_min_parallelism


class TestEnsureMinParallelism:
    def test_narrow_input_widens_to_default_parallelism(self, spark):
        df = spark.range(100).coalesce(1)
        out = ensure_min_parallelism(df)
        assert (
            out.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )
        assert out.count() == 100

    def test_wide_input_is_untouched(self, spark):
        wide = spark.range(100).repartition(
            spark.sparkContext.defaultParallelism + 4
        )
        out = ensure_min_parallelism(wide)
        # same object: no plan change, no extra Exchange
        assert out is wide

    def test_streaming_frame_passes_through(self, spark):
        stream = (
            spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        )
        assert ensure_min_parallelism(stream) is stream
