"""E8 enrichment fallback chain: first-success wins, transient failures
retry then fall through, total failure degrades NonCritically."""

from ton_etl_spark.operators.enrichment import enrich, flaky_stub, offline_resolver


def test_fallback_chain_and_noncritical(spark):
    df = spark.createDataFrame(
        [
            (1, "ipfs://Qm123/meta.json"),
            (2, "ipfs://broken/gateway"),   # primary raises -> fallback
            (3, "not-a-uri"),               # nothing resolves -> null row
            (4, None),
        ],
        "id long, uri string",
    )
    out = {
        r["id"]: r.asDict()
        for r in enrich(
            df,
            "uri",
            resolvers=[
                ("flaky", flaky_stub(("ipfs://broken",))),
                ("offline", offline_resolver),
            ],
            batch_rows=2,
        ).collect()
    }
    assert out[1]["enrich_source"] == "offline"  # flaky declined, offline won
    assert '"meta.json"' in out[1]["enriched"]
    assert out[2]["enrich_source"] == "offline"  # flaky raised, chain advanced
    assert out[3]["enriched"] is None and out[3]["enrich_source"] is None
    assert out[4]["enriched"] is None
    assert len(out) == 4  # no row lost (NonCritical)


def test_silver_enrichment_never_drops_rows_and_replay_converges(
    spark, tmp_path
):
    """r2-verdict #6: the resolver chain as an OPTIONAL silver stage.
    With a resolver that times out for some URIs and a fallback that
    declines unknown schemes, every parsed metadata row must still land
    in the silver table (failures only set the NonCritical enrichment
    columns to null), and replaying the same batch must converge
    (exactly-once per table, LWW on re-delivery).  Reference
    jetton_metadata.py:39-65 semantics."""
    import json as _json

    from pyspark.sql import functions as F

    from ton_etl_spark.cdc.silver import SilverFanout
    from ton_etl_spark.schemas import CHANGE_EVENT_SCHEMA

    rows = []
    for i in range(12):
        # image source cycles: resolvable / flaky-timeout-then-fallback /
        # absent (short CSV row -> csv_struct null-fills `image`, field 4
        # of SOURCES_FIELDS -> null uri -> every resolver declines)
        if i % 3 == 2:
            csv = f"j{i},a{i}"
        else:
            image = ["Qm%d/meta.json" % i, "broken/x%d" % i][i % 3]
            csv = f"j{i},a{i},m{i},{image},s,6"
        payload = _json.dumps(
            {"name": f"tok{i}", "symbol": f"T{i}", "sources_csv": csv}
        )
        rows.append((i + 1, i + 1, "u", "metadata_event", f"r{i}", "m", payload))
    ev = spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)

    fanout = SilverFanout(
        spark,
        str(tmp_path / "silver"),
        enrich_resolvers=[
            ("flaky", flaky_stub(("ipfs://broken",))),
            ("offline", offline_resolver),
        ],
    )
    fanout.apply(ev, batch_id=1, types_present={"metadata_event"})
    meta = fanout.tables["metadata"]
    got = {r["repo"]: r.asDict() for r in meta.read().collect()}

    assert len(got) == 12          # enrichment failures never drop rows
    srcs = {r["enrich_source"] for r in got.values()}
    assert "offline" in srcs       # some rows enriched by the fallback
    assert None in srcs            # some rows degraded to null, kept
    assert "enrich_error" in meta.schema().fieldNames()

    # replay the SAME batch (crash-before-commit recovery): exactly-once
    # guard + LWW must converge to the identical state
    v_before = len(meta.history())
    fanout.apply(ev, batch_id=1, types_present={"metadata_event"})
    assert len(meta.history()) == v_before
    assert {r["repo"]: r.asDict() for r in meta.read().collect()} == got


def test_preexisting_silver_table_gains_enrichment_columns(spark, tmp_path):
    """Constructing an enriched SilverFanout over a silver
    table CREATED WITHOUT enrichment must not silently drop the
    enrichment output (merge aligns by name). The fanout now syncs the
    opened table's schema with idempotent ADD COLUMN commits."""
    import json as _json

    from ton_etl_spark.cdc.silver import SilverFanout
    from ton_etl_spark.schemas import CHANGE_EVENT_SCHEMA

    rows = [
        (
            1, 1, "u", "metadata_event", "r0", "m",
            _json.dumps({
                "name": "tok0", "symbol": "T0",
                "sources_csv": "j0,a0,m0,Qm0/meta.json,s,6",
            }),
        )
    ]
    ev = spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)

    # 1) plain fanout creates the tables WITHOUT enrichment columns
    plain = SilverFanout(spark, str(tmp_path / "silver"))
    plain.apply(ev, batch_id=1, types_present={"metadata_event"})
    assert "enriched" not in plain.tables["metadata"].schema().fieldNames()

    # 2) reopening with resolvers upgrades the schema and keeps the output
    fanout = SilverFanout(
        spark, str(tmp_path / "silver"),
        enrich_resolvers=[("offline", offline_resolver)],
    )
    meta = fanout.tables["metadata"]
    assert "enriched" in meta.schema().fieldNames()
    # a NEWER write (LWW: the equal-LSN redelivery would correctly lose)
    ev2 = spark.createDataFrame(
        [(2, 2) + rows[0][2:]], CHANGE_EVENT_SCHEMA
    )
    fanout.apply(ev2, batch_id=2, types_present={"metadata_event"})
    got = {r["repo"]: r.asDict() for r in meta.read().collect()}
    assert got["r0"]["enrich_source"] == "offline"
    assert got["r0"]["enriched"] is not None
