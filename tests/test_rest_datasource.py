"""Python Data Source API connector tests: parallel id-sharded scan,
pushdown-style option handling, row parity with the driver-side scan."""

from __future__ import annotations

import json

from ag_data_ingestion_github_to_snowflake_spark.sources import rest_datasource as RD
from ag_data_ingestion_github_to_snowflake_spark.sources.rest import (
    RestSourceConfig,
    list_scan_df,
)
from ag_data_ingestion_github_to_snowflake_spark.sources.stub import StubTransport


def read_df(spark, **options):
    RD.register(spark)
    reader = spark.read.format("github_repos")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def test_parallel_scan_reads_all_rows(spark):
    df = read_df(
        spark,
        since=0,
        until=200,
        per_page=50,
        num_partitions=4,
        transport="stub",
        transport_spec=json.dumps({"n_repos": 200}),
    )
    assert df.count() == 200
    ids = [r.id for r in df.select("id").orderBy("id").collect()]
    assert ids == list(range(1, 201))
    assert df.rdd.getNumPartitions() == 4


def test_id_range_sharding_no_overlap(spark):
    df = read_df(
        spark,
        since=50,
        until=150,
        per_page=30,
        num_partitions=3,
        transport="stub",
        transport_spec=json.dumps({"n_repos": 300}),
    )
    ids = [r.id for r in df.select("id").orderBy("id").collect()]
    assert ids == list(range(51, 151))  # exact range, no dups, no gaps


def test_connector_matches_driver_side_scan(spark):
    tr = StubTransport(n_repos=120)
    cfg = RestSourceConfig(per_page=60, max_requests_per_run=1000)
    drv, _, _ = list_scan_df(spark, tr, since=0, config=cfg, max_pages=2)
    con = read_df(
        spark,
        since=0,
        until=120,
        per_page=60,
        num_partitions=2,
        transport="stub",
        transport_spec=json.dumps({"n_repos": 120}),
    )
    assert sorted(drv.collect()) == sorted(con.collect())


def test_budget_capped_scan(spark):
    """A1/A11: the ``budget`` option (the reference's
    MAX_REQUESTS_PER_RUN) caps total emitted rows structurally — split
    across shards at planning time, enforced per shard at read time,
    with no cross-task coordination."""
    df = read_df(
        spark,
        since=0,
        until=200,
        per_page=50,
        num_partitions=4,
        budget=70,
        transport="stub",
        transport_spec=json.dumps({"n_repos": 200}),
    )
    assert df.count() == 70
    # Each of the 4 shards (spans of 50) contributes at most its share
    # (ceil(70/4) = 18): the cap binds per-shard, so the scan keeps its
    # parallelism instead of one task eating the whole budget.
    ids = [r.id for r in df.select("id").collect()]
    import collections

    per_shard = collections.Counter((i - 1) // 50 for i in ids)
    assert all(n <= 18 for n in per_shard.values())
    assert len(per_shard) == 4


def test_budget_zero_yields_nothing(spark):
    df = read_df(
        spark,
        since=0,
        until=100,
        num_partitions=2,
        budget=0,
        transport="stub",
        transport_spec=json.dumps({"n_repos": 100}),
    )
    assert df.count() == 0


def test_stream_reader_micro_batches_and_resume(spark, tmp_path):
    """A22/B44 via the connector: the streaming flavor pulls
    rate-capped micro-batches past the keyset cursor, checkpoints the
    offset, and a RESTARTED query resumes from the committed cursor —
    the reference's cron loop with engine-managed state."""
    RD.register(spark)
    cp = str(tmp_path / "cp")
    out = str(tmp_path / "out")

    def start_query(n_repos):
        sdf = (
            spark.readStream.format("github_repos")
            .option("since", 0)
            .option("per_page", 20)
            .option("batch_rows", 25)
            .option("transport", "stub")
            .option("transport_spec", json.dumps({"n_repos": n_repos}))
            .load()
        )
        # parquet sink: fault-tolerant (memory sink can't recover from
        # a checkpoint), mirroring the reference's append-a-file loads
        return (
            sdf.writeStream.outputMode("append")
            .option("checkpointLocation", cp)
            .format("parquet")
            .option("path", out)
            .start()
        )

    q = start_query(60)
    q.processAllAvailable()
    q.stop()
    got = spark.read.parquet(out).collect()
    assert sorted(r.id for r in got) == list(range(1, 61))
    # rate cap: no micro-batch exceeded batch_rows
    prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert prog and all(p["numInputRows"] <= 25 for p in prog)

    # server grew; restart from the checkpoint → only NEW ids arrive
    q2 = start_query(80)
    q2.processAllAvailable()
    q2.stop()
    got2 = spark.read.parquet(out).collect()
    assert sorted(r.id for r in got2) == list(range(1, 81))  # no dups, no gaps


def test_reader_breaks_on_stalled_cursor():
    """A misbehaving server that replays the same full page (max id <=
    cursor) must terminate the shard scan, not loop forever."""
    from ag_data_ingestion_github_to_snowflake_spark.sources.rest_datasource import (
        GithubReposReader,
        TransportRegistry,
        _IdRangePartition,
    )

    calls = []

    def stuck_factory(spec: str):
        def transport(path, params):
            calls.append(params["since"])
            # full page, but ids never advance past 5
            return 200, [
                {"id": i, "name": f"r{i}", "full_name": f"o/r{i}", "owner": {"login": "o"}}
                for i in range(1, 6)
            ]

        return transport

    TransportRegistry.register("stuck", stuck_factory)
    reader = GithubReposReader(
        {"since": "0", "until": "100", "per_page": "5", "transport": "stuck"}
    )
    rows = list(reader.read(_IdRangePartition(0, 100)))
    assert [r[0] for r in rows] == [1, 2, 3, 4, 5]  # first page yielded
    assert len(calls) == 2  # second identical page detected, loop broken
