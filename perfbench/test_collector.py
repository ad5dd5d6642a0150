from __future__ import annotations

import pyarrow as pa


def test_collector_reads_stage_metrics_of_a_tiny_job(work):
    import host
    from collector import StatusCollector

    spark = host.start_spark("local[2]", work)
    try:
        def double(batches):
            for b in batches:
                yield pa.RecordBatch.from_arrays(
                    [pa.compute.multiply(b.column(0), 2)], names=["id"])

        df = spark.range(0, 10_000, numPartitions=2).repartition(4) \
            .mapInArrow(double, "id long")
        collector = StatusCollector(spark)
        rows, cm = collector.run("tiny", lambda: df.collect())
        assert sorted(r.id for r in rows) == list(range(0, 20_000, 2))

        assert cm.n_jobs >= 1
        assert 0 < cm.jobs_s <= cm.wall_s
        assert cm.driver_s == cm.wall_s - cm.jobs_s
        udf = [s for s in cm.stages if s.udf]
        plain = [s for s in cm.stages if not s.udf]
        assert len(udf) == 1 and udf[0].num_tasks == 4
        assert udf[0].shuffle_read_bytes > 0
        assert udf[0].task_run_max_s >= udf[0].task_run_p50_s >= 0
        assert plain and sum(s.shuffle_write_bytes for s in plain) > 0
        assert all(s.failed_tasks == 0 and s.spill_bytes == 0
                   for s in cm.stages)

        # a second call sees only its own jobs
        _, cm2 = collector.run("count", lambda: spark.range(10).count())
        assert cm2.n_jobs >= 1
        assert not any(s.udf for s in cm2.stages)
    finally:
        spark.stop()
