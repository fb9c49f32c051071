"""net_changes: churn → window-endpoint deltas, format-agnostic
(Iceberg changelog shape and Delta CDF shape)."""

from __future__ import annotations

from pyspark.sql import functions as F

from fda_clinical_etl_pipeline_spark.sources.cdc import net_changes

SCHEMA = (
    "k long, val double, _change_type string, _change_ordinal int"
)


def _net(spark, rows, **kw):
    df = spark.createDataFrame(rows, SCHEMA)
    got = net_changes(df, keys=["k"], **kw).collect()
    return sorted((r["_change_type"], r["k"], r["val"]) for r in got)


def test_net_insert_then_update_folds_to_final_insert(spark):
    rows = [
        (1, 1.0, "insert", 0),
        (1, 1.0, "delete", 2),  # update pre
        (1, 9.0, "insert", 2),  # update post
    ]
    assert _net(spark, rows) == [("insert", 1, 9.0)]


def test_net_transient_key_vanishes(spark):
    rows = [(1, 1.0, "insert", 0), (1, 1.0, "delete", 3)]
    assert _net(spark, rows) == []


def test_net_preexisting_delete_keeps_pre_values(spark):
    # deleted, re-inserted, deleted again: net = one delete with the
    # window-START values (5.0), not the transient re-insert's
    rows = [
        (1, 5.0, "delete", 0),
        (1, 7.0, "insert", 1),
        (1, 7.0, "delete", 2),
    ]
    assert _net(spark, rows) == [("delete", 1, 5.0)]


def test_net_equal_values_update_folds_away(spark):
    # delete + re-insert with IDENTICAL values = no net change
    rows = [(1, 5.0, "delete", 0), (1, 5.0, "insert", 1)]
    assert _net(spark, rows) == []


def test_net_update_emits_delete_plus_insert(spark):
    rows = [(1, 5.0, "delete", 1), (1, 6.0, "insert", 1)]
    assert _net(spark, rows) == [
        ("delete", 1, 5.0), ("insert", 1, 6.0),
    ]


def test_net_delta_cdf_shape(spark):
    """Delta CDF types normalize: update_preimage/postimage fold like
    delete/insert; ordinal column is _commit_version."""
    df = spark.createDataFrame(
        [
            (1, 5.0, "update_preimage", 4),
            (1, 6.0, "update_postimage", 4),
            (2, 1.0, "insert", 5),
            (3, 2.0, "delete", 6),
        ],
        "k long, val double, _change_type string, _commit_version int",
    )
    got = net_changes(
        df, keys=["k"], ord_col="_commit_version"
    ).collect()
    assert sorted(
        (r["_change_type"], r["k"], r["val"]) for r in got
    ) == [
        ("delete", 1, 5.0), ("delete", 3, 2.0),
        ("insert", 1, 6.0), ("insert", 2, 1.0),
    ]


def test_net_matches_mirror_apply(spark, tmp_path):
    """End-to-end contract: applying the NET changes to the window-
    start snapshot reproduces the final table exactly — on the real
    Iceberg changelog of a delete + merge history."""
    from pyspark.sql import functions as F

    from fda_clinical_etl_pipeline_spark.sources.iceberg import (
        IcebergTable,
    )

    t = IcebergTable.create(
        spark, str(tmp_path / "i"),
        spark.createDataFrame(
            [(i, float(i)) for i in range(60)], "k long, val double"
        ),
    )
    s0 = t.metadata()["current-snapshot-id"]
    start = {(r["k"], r["val"]) for r in t.snapshot().collect()}
    t.equality_delete(
        spark.createDataFrame([(int(i),) for i in range(0, 60, 9)],
                              "k long"), ["k"],
    )
    t.merge(
        spark.createDataFrame(
            [(5, 555.0), (9, 9.0), (100, 1.0)], "k long, val double"
        ),
        on="k",
        when_matched_update="all",
        when_not_matched_insert="all",
    )
    net = net_changes(
        t.changelog_scan(from_snapshot_id=s0), keys=["k"]
    ).collect()
    mirror = set(start)
    for r in net:
        if r["_change_type"] == "delete":
            mirror.discard((r["k"], r["val"]))
    for r in net:
        if r["_change_type"] == "insert":
            mirror.add((r["k"], r["val"]))
    assert mirror == {
        (r["k"], r["val"]) for r in t.snapshot().collect()
    }
    # and the fold is smaller than the churn (k=9 delete+re-insert
    # with its original value must fold away)
    churn = t.changelog_scan(from_snapshot_id=s0).count()
    assert len(net) < churn


# ------------------------- property: net == endpoint state diff
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# per key: a sequence of commit events; each commit either inserts
# (value) into a currently-absent key, deletes a present key, or
# updates (delete+insert) a present key — the legal CDC grammar
_key_ops = st.lists(
    st.tuples(st.sampled_from(["toggle", "update"]),
              st.integers(0, 9)),
    min_size=1, max_size=6,
)


@st.composite
def _histories(draw):
    n_keys = draw(st.integers(1, 5))
    hist = {}
    for k in range(n_keys):
        pre = draw(st.booleans())  # key exists before the window?
        hist[k] = (pre, draw(_key_ops))
    return hist


@settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_histories())
def test_net_changes_matches_endpoint_diff(spark, hist):
    rows, ordinal = [], 0
    pre_state, state = {}, {}
    for k, (pre, ops) in hist.items():
        if pre:
            pre_state[k] = float(k * 100)
            state[k] = float(k * 100)
    for k, (_pre, ops) in hist.items():
        for kind, val in ops:
            ordinal += 1
            v = float(val)
            if kind == "update" and k in state:
                rows.append((k, state[k], "delete", ordinal))
                rows.append((k, v, "insert", ordinal))
                state[k] = v
            elif k in state:  # toggle: delete
                rows.append((k, state[k], "delete", ordinal))
                del state[k]
            else:  # toggle: insert
                rows.append((k, v, "insert", ordinal))
                state[k] = v
    if not rows:
        return
    df = spark.createDataFrame(rows, SCHEMA)
    got = sorted(
        (r["_change_type"], r["k"], r["val"])
        for r in net_changes(df, keys=["k"]).collect()
    )
    expected = []
    for k in set(pre_state) | set(state):
        before, after = pre_state.get(k), state.get(k)
        if before is None and after is not None:
            expected.append(("insert", k, after))
        elif before is not None and after is None:
            expected.append(("delete", k, before))
        elif before is not None and after is not None \
                and before != after:
            expected.append(("delete", k, before))
            expected.append(("insert", k, after))
    assert got == sorted(expected)


def test_read_changes_unified_across_formats(spark, tmp_path):
    """One consumer body against all three formats: same history
    (create 20 rows -> delete k=3 -> update k=1), same net result."""
    from fda_clinical_etl_pipeline_spark.sources.cdc import (
        read_changes,
    )
    from fda_clinical_etl_pipeline_spark.sources.delta_log import (
        DeltaProtocolTable,
    )
    from fda_clinical_etl_pipeline_spark.sources.hudi_table import (
        HudiTable,
    )
    from fda_clinical_etl_pipeline_spark.sources.iceberg import (
        IcebergTable,
    )

    rows = [(i, float(i)) for i in range(20)]
    expected = sorted([
        ("delete", 3, 3.0),
        ("delete", 1, 1.0), ("insert", 1, 111.0),
    ])

    d = DeltaProtocolTable.create(
        spark, str(tmp_path / "d"),
        spark.createDataFrame(rows, "k long, val double"),
        enable_cdf=True,
    )
    d.delete_where(F.col("k") == 3)
    d.merge(
        spark.createDataFrame([(1, 111.0)], "k long, val double"),
        on="k", when_matched_update="all",
    )

    i = IcebergTable.create(
        spark, str(tmp_path / "i"),
        spark.createDataFrame(rows, "k long, val double"),
    )
    s0 = i.metadata()["current-snapshot-id"]
    i.delete_where(F.col("k") == 3, mode="mor")
    i.merge(
        spark.createDataFrame([(1, 111.0)], "k long, val double"),
        on="k", when_matched_update="all",
    )

    h = HudiTable.create(
        spark, str(tmp_path / "h"), "uni", "k", "ver",
        table_type="MERGE_ON_READ",
    )
    h.upsert(spark.createDataFrame(
        [(k, 1, v) for k, v in rows], "k long, ver int, val double"
    ), instant="20240101000000000")
    h.delete_keys(spark.createDataFrame([(3,)], "k long"),
                  instant="20240102000000000")
    h.merge(
        spark.createDataFrame([(1, 2, 111.0)],
                              "k long, ver int, val double"),
        when_matched_update="all", instant="20240103000000000",
    )

    def _net(table, **kw):
        return sorted(
            (r["_change_type"], r["k"], r["val"])
            for r in read_changes(
                table, net=True, keys=["k"], **kw
            ).collect()
        )

    assert _net(d) == expected
    assert _net(i, start=s0) == expected
    assert _net(h, start="20240101000000000") == expected


def test_changes_cli_verb(spark, tmp_path):
    """CLI smoke: the unified verb detects the format and emits JSON
    lines, churn and --net."""
    import contextlib
    import io
    import json as _json

    from fda_clinical_etl_pipeline_spark.__main__ import main
    from fda_clinical_etl_pipeline_spark.sources.hudi_table import (
        HudiTable,
    )

    h = HudiTable.create(
        spark, str(tmp_path / "h"), "clic", "k", "ver",
    )
    h.upsert(spark.createDataFrame(
        [(1, 1, 1.0), (2, 1, 2.0)], "k long, ver int, val double"
    ), instant="20240101000000000")
    h.delete_keys(spark.createDataFrame([(2,)], "k long"),
                  instant="20240102000000000")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["changes", str(tmp_path / "h"),
                   "--start", "20240101000000000"])
    assert rc in (0, None)
    rows = [_json.loads(ln) for ln in buf.getvalue().splitlines()
            if ln.strip().startswith("{")]
    assert rows and all(r["_change_type"] == "delete" for r in rows)
    buf2 = io.StringIO()
    with contextlib.redirect_stdout(buf2):
        rc = main(["changes", str(tmp_path / "h"),
                   "--net", "--keys", "k"])
    rows2 = [_json.loads(ln) for ln in buf2.getvalue().splitlines()
             if ln.strip().startswith("{")]
    assert sorted(
        (r["_change_type"], r["k"]) for r in rows2
    ) == [("insert", 1)]  # k=2 inserted+deleted in window: folds away


def test_net_changes_plan_partial_aggregates(spark):
    """Skew posture (r10 verdict task 8): with partial aggregation a
    1.1M-event feed whose one hot key churns 100k events folds in 0.83 s
    against 0.76 s for a uniform feed. The fold must be a
    partial-aggregating min_by/max_by — map-side combine is what keeps
    a 100k-event hot key from funneling through one reducer. A window-function or non-partial rewrite fails here
    before it fails at scale."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from fda_clinical_etl_pipeline_spark.sources.cdc import net_changes

    churn = spark.range(100).select(
        (F.col("id") % 7).alias("k"),
        F.lit("insert").alias("_change_type"),
        F.col("id").cast("int").alias("_change_ordinal"),
        (F.col("id") % 3).alias("val"),
    )
    df = net_changes(churn, keys=["k"])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "partial_min_by" in plan and "partial_max_by" in plan
    assert "Window" not in plan
