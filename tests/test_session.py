"""Session-factory master resolution + detect_mentions input guards."""

import pytest

from qizner_spark.session import _launcher_has_master


class TestLauncherMasterDetection:
    def test_spark_env_loaded_alone_is_not_a_master(self, monkeypatch):
        """Any process that sourced load-spark-env.sh exports
        SPARK_ENV_LOADED and children inherit it; a plain
        `python script.py` from such a shell must still default to
        local[*] instead of dying with 'A master URL must be set'."""
        monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
        monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
        monkeypatch.setenv("SPARK_ENV_LOADED", "1")
        assert not _launcher_has_master()

    def test_explicit_submit_args_master_detected(self, monkeypatch):
        monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
        monkeypatch.setenv(
            "PYSPARK_SUBMIT_ARGS", "--master spark://host:7077 pyspark-shell"
        )
        assert _launcher_has_master()


class TestPassthroughCollision:
    def test_colliding_passthrough_rejected(self, spark, sf_dir):
        from qizner_spark.operators.mentions import detect_mentions
        from qizner_spark.plans.pipeline import default_scorer_factory
        from qizner_spark.sources.pages import pages_from_documents

        from pyspark.sql import functions as F

        pages = pages_from_documents(spark, sf_dir).withColumn(
            "prob", F.col("warc_ts").cast("double")
        )
        with pytest.raises(ValueError, match="prob"):
            detect_mentions(
                pages, default_scorer_factory,
                key_col="url", text_col="text", lang_col="lang",
                passthrough_cols=["prob"],
            )


class TestScanParallelismProbe:
    """The width probe of ensure_scan_parallelism reads the physical
    plan only. ``df.rdd.getNumPartitions()`` on an AQE plan with an
    exchange runs that plan's query stages: two jobs on an anti-joined
    input, before the probe stopped using it."""

    @staticmethod
    def _inputs(spark, tmp_path):
        spark.range(200).selectExpr("concat('u', id) AS url").write.parquet(str(tmp_path / "pages"))
        spark.range(100).selectExpr("concat('u', id) AS url").write.parquet(str(tmp_path / "done"))
        pages = spark.read.parquet(str(tmp_path / "pages"))
        done = spark.read.parquet(str(tmp_path / "done")).distinct()
        return pages, done

    def test_probe_runs_no_job_on_anti_joined_input(self, spark, tmp_path, count_jobs):
        from qizner_spark.session import ensure_scan_parallelism, planned_partitions

        pages, done = self._inputs(spark, tmp_path)
        todo = pages.join(done, "url", "left_anti")
        width, jobs = count_jobs(lambda: planned_partitions(todo))
        assert jobs == 0
        # the broadcast key set does not set the join's width: the scan does
        assert width == planned_partitions(pages) > 0
        _, jobs = count_jobs(lambda: ensure_scan_parallelism(todo))
        assert jobs == 0
        assert width == todo.rdd.getNumPartitions()  # agrees with execution

    def test_runtime_sized_input_is_widened_without_a_job(self, spark, tmp_path, count_jobs):
        from qizner_spark.session import ensure_scan_parallelism, planned_partitions

        pages, _ = self._inputs(spark, tmp_path)
        counted = pages.groupBy("url").count()  # AQE sizes this shuffle at runtime
        assert planned_partitions(counted) is None
        widened, jobs = count_jobs(lambda: ensure_scan_parallelism(counted, min_partitions=3))
        assert jobs == 0
        assert planned_partitions(widened) == 3
        assert planned_partitions(pages.repartition(5)) == 5
        assert planned_partitions(pages.limit(7)) == 1

    def test_pruned_scan_width_is_left_to_runtime(self, spark, tmp_path, count_jobs):
        """A scan under dynamic partition pruning reads the files a
        subquery selects, so its splits are unknown before that runs."""
        from qizner_spark.session import planned_partitions

        spark.range(100).selectExpr("id", "id % 10 AS p").write.partitionBy("p").parquet(
            str(tmp_path / "fact"))
        spark.range(10).selectExpr("id AS p", "id * 2 AS v").write.parquet(str(tmp_path / "dim"))
        fact = spark.read.parquet(str(tmp_path / "fact"))
        dim = spark.read.parquet(str(tmp_path / "dim")).where("v < 5")
        width, jobs = count_jobs(lambda: planned_partitions(fact.join(dim, "p")))
        assert width is None and jobs == 0
