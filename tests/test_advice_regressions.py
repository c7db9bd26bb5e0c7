"""Regression tests for the round-1 ADVICE.md findings — each test
pins the exact failure mode the advisor flagged so it can't return.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from innercircle_etl_spark.functions import text as TX
from innercircle_etl_spark.functions.decode import (
    orders_matched_price,
)
from innercircle_etl_spark.operators.asof import asof_join
from innercircle_etl_spark.operators.merge import merge_into
from innercircle_etl_spark.operators.skew import salted_join


def test_bpe_token_count_on_renamed_column(spark):
    """bpe_ish_token_count must honor its Column argument, not a
    column literally named 'text' (ADVICE #1)."""
    df = spark.createDataFrame(
        [("hello world 42",)], ["body"]
    ).select(TX.bpe_ish_token_count(F.col("body")).alias("n"))
    assert df.collect()[0]["n"] == 3


def test_bpe_token_count_on_derived_expression(spark):
    df = spark.createDataFrame([("A B",)], ["body"]).select(
        TX.bpe_ish_token_count(F.concat(F.col("body"), F.lit(" C"))).alias(
            "n"
        )
    )
    assert df.collect()[0]["n"] == 3


def test_merge_into_null_delete_cond_keeps_row(spark):
    """NULL delete condition means 'do not delete' (ADVICE #2) —
    matched rows with a NULL cond are updated, not dropped."""
    target = spark.createDataFrame([(1, "old"), (2, "old")], ["k", "v"])
    # flag NULL for k=1, true for k=2
    source = spark.createDataFrame(
        [(1, "new", None), (2, "new", True)], "k int, v string, del boolean"
    )
    out = merge_into(
        target,
        source.select("k", "v", "del"),
        ["k"],
        update_cols=["v"],
        delete_cond=F.col("del"),
    ).collect()
    got = {r["k"]: r["v"] for r in out}
    assert got == {1: "new"}  # k=2 deleted, k=1 updated and KEPT


def test_asof_join_left_r_prefixed_column_survives(spark):
    """A left column named 'r_value' is left data, not right payload
    (ADVICE #3)."""
    left = spark.createDataFrame(
        [(1, 10, "keepme")], ["k", "t", "r_value"]
    )
    right = spark.createDataFrame([(1, 15, 99.0)], ["k", "t", "px"])
    out = asof_join(
        left, right, ["k"], left_on="t", right_on="t", direction="forward"
    ).collect()[0]
    assert out["r_value"] == "keepme"
    assert out["r_px"] == 99.0


def test_asof_join_name_collision_raises(spark):
    """If renaming right payload would collide with an existing left
    name, fail loudly rather than corrupt."""
    left = spark.createDataFrame([(1, 10, "l")], ["k", "t", "r_px"])
    right = spark.createDataFrame([(1, 15, 99.0)], ["k", "t", "px"])
    with pytest.raises(ValueError, match="collision"):
        asof_join(left, right, ["k"], left_on="t", right_on="t")


def test_salted_join_rejects_dim_preserving_how(spark):
    """right/full joins would replicate unmatched dim rows once per
    salt (ADVICE #4) — refuse them."""
    fact = spark.createDataFrame([(1, "a")], ["k", "x"])
    dim = spark.createDataFrame([(1, "d"), (2, "unmatched")], ["k", "y"])
    with pytest.raises(ValueError, match="not supported"):
        salted_join(fact, dim, ["k"], F.col("x"), n_salts=4, how="full")
    # sanity: allowed hows still produce plain-join-identical results
    out = salted_join(fact, dim, ["k"], F.col("x"), n_salts=4, how="inner")
    assert out.count() == 1


def test_orders_matched_price_non_hex_word_yields_null(spark):
    """A correct-length data word with non-hex chars must decode to
    null, not fail the task on the uint256 parse (ADVICE #5)."""
    good = "0x" + "00" * 64 + format(10**18, "064x")
    bad = "0x" + "00" * 64 + "zz" * 32  # right length, not hex
    df = spark.createDataFrame(
        [(good,), (bad,), (None,)], ["data"]
    ).select(orders_matched_price(F.col("data")).alias("p"))
    vals = [r["p"] for r in df.collect()]
    assert vals[0] == 1.0
    assert vals[1] is None
    assert vals[2] is None


def test_edit_distance_suffix_key_short_text_parity(spark):
    """The suffix blocking key must agree between Spark and DuckDB
    for texts SHORTER than the 16-char block (round-4 ADVICE: the
    engines diverge on non-positive substr start positions; the
    clamped `greatest(length-15, 1)` form is identical in both)."""
    import duckdb

    texts = ["short", "exactly16chars!!", "a", "", "seventeen chars!!",
             "this one is comfortably longer than the block size"]
    expr = "substr(t, greatest(length(t) - 15, 1), 16)"
    got_spark = [
        r["sk"]
        for r in spark.createDataFrame([(t,) for t in texts], ["t"])
        .select(F.expr(expr).alias("sk"))
        .collect()
    ]
    con = duckdb.connect()
    got_duck = [
        con.execute(f"SELECT {expr} FROM (SELECT ? AS t)", [t]).fetchone()[0]
        for t in texts
    ]
    assert got_spark == got_duck


def test_shuffle_sizing_is_once_per_session_and_validated(spark, monkeypatch):
    """registry._size_shuffle_once must (a) run once per session,
    (b) respect the marker conf, (c) survive a malformed
    SPARK_GRAFT_CPUS without blowing up (round-4 ADVICE)."""
    import os

    from innercircle_etl_spark.plans import registry as R

    prev_mark = spark.conf.get(R._SHUFFLE_SIZED_MARK, None)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # marker pre-set -> conf untouched even at the stock value
        spark.conf.set(R._SHUFFLE_SIZED_MARK, "1")
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        R._size_shuffle_once(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "200"

        # fresh session state + malformed env var -> the CPUs this
        # process may use, no crash
        spark.conf.unset(R._SHUFFLE_SIZED_MARK)
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "not-a-number")
        R._size_shuffle_once(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(
            len(os.sched_getaffinity(0))
        )

        # second call is a no-op even if the caller re-sets 200
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        R._size_shuffle_once(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if prev_mark is None:
            spark.conf.unset(R._SHUFFLE_SIZED_MARK)
        else:
            spark.conf.set(R._SHUFFLE_SIZED_MARK, prev_mark)


def test_phash_ascii_gate_on_both_engines(spark, duck, sf_dir):
    """Round-6 ADVICE: mm_dedup_phash hashes UTF-8 BYTES while its
    DuckDB oracle walks characters — equivalent only for ASCII. Both
    sides must now FILTER to ASCII rows so a non-ASCII fixture regen
    excludes the row on both engines instead of silently diverging."""
    from innercircle_etl_spark.plans.multimodal_queries import _PHASH_ORACLE

    # the oracle text must carry the byte-length == char-length gate
    assert "strlen(text) = length(text)" in _PHASH_ORACLE

    # a synthetic corpus where one doc is non-ASCII of the same char
    # length: the plan-side filter must drop it
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "a" * 80), (2, "é" * 80)], "doc_id long, text string"
    )
    kept = (
        docs.filter(
            (F.length("text") >= 64)
            & (F.octet_length("text") == F.length("text"))
        )
        .select("doc_id")
        .collect()
    )
    assert [r["doc_id"] for r in kept] == [1]


def test_a17_bound_scales_with_amplification(spark, sf_dir):
    """Round-6 ADVICE: a17's accuracy contract must derive its bound
    from the measured inclusion-exclusion amplification instead of a
    hardcoded 20%. The emitted amplification column must equal the
    exact-count ratio, and the contract must hold."""
    from innercircle_etl_spark.plans import QUERIES

    row = QUERIES["a17_sketch_set_intersection"](spark, sf_dir).collect()[0]
    amp = (row["exact_a"] + row["exact_b"] + row["exact_union"]) / max(
        row["exact_inter"], 1
    )
    assert abs(row["amplification"] - round(amp, 2)) < 1e-9
    assert row["inter_within_bound"] is True


def test_cdc_recover_sweeps_stale_tmp(tmp_path):
    """Round-6 ADVICE: recover_snapshot must clean orphaned
    _tmp_{batch_id} dirs (a crash between write and rename leaks
    them forever under a retried batch's new id)."""
    import os

    from innercircle_etl_spark.operators.cdc import recover_snapshot

    snap = str(tmp_path / "snap")
    os.makedirs(snap)
    os.makedirs(f"{snap}_tmp_42")
    recover_snapshot(snap)
    assert not os.path.exists(f"{snap}_tmp_42")
    assert os.path.exists(snap)


def test_cluster_canonical_releases_intra_query_pins(spark, sf_dir):
    """Round-8 advice: the label-propagation loop must not accumulate
    a pinned localCheckpoint per sweep (up to 20) plus the edge/
    candidate pins for the query's whole lifetime. After the result
    materializes, the only blocks this query may still hold are the
    LAST sweep's checkpoint (the result's own storage); everything
    pinned before the call must survive untouched."""
    from innercircle_etl_spark.plans.dedup_queries import (
        dedup_cluster_canonical,
    )

    def pinned_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(j.id()) for j in jmap.values()}

    # an unrelated session-lifetime pin that must NOT be released
    keep = (
        spark.range(10).toDF("x").localCheckpoint(eager=True)
    )
    before = pinned_ids()
    df = dedup_cluster_canonical(spark, sf_dir)
    n = df.count()
    assert n > 0
    created = pinned_ids() - before
    # last sweep's checkpoint only (its blocks ARE the result data);
    # the minhash candidate subtree + edges + earlier sweeps are gone
    assert len(created) <= 1, created
    # the session-lifetime pin we HOLD A REFERENCE TO is intact and
    # readable. (Do NOT assert all of `before` survived: Spark's
    # ContextCleaner auto-unpersists garbage-collected checkpoints
    # from EARLIER tests at arbitrary points, so `pinned_ids() >=
    # before` is order-dependent-flaky — reproduced when the ngram
    # wide-vocab tests run first in the same session.)
    assert keep.count() == 10


def test_cluster_canonical_spares_a_pin_made_while_it_runs(
    spark, sf_dir, monkeypatch
):
    """dedup_cluster_canonical releases its pins by handle: a
    localCheckpoint some other code makes WHILE the query runs (here:
    during its first table load, inside the MinHash stage) is not the
    query's to release, and must still be readable afterwards."""
    import innercircle_etl_spark.plans.dedup_queries as D

    foreign = []
    real_load = D.load

    def load(s, d, t):
        if not foreign:
            foreign.append(spark.range(10).localCheckpoint(eager=True))
        return real_load(s, d, t)

    monkeypatch.setattr(D, "load", load)
    assert D.dedup_cluster_canonical(spark, sf_dir).count() > 0
    assert foreign and foreign[0].count() == 10


def test_priority_window_names_all_resolve():
    """Every _PRIORITY name resolves in the registry (round-13
    advice item 4): _ordered silently drops unknown names ('if n in
    src' — correct, the list is advisory), so a typo in the 50-slot
    freshness window would quietly leave that row stale with no
    driver proof and no signal. Fail loudly here instead."""
    import __spark_entry__ as entry
    from innercircle_etl_spark.plans import QUERIES

    missing = [n for n in entry._PRIORITY if n not in QUERIES]
    assert not missing, f"_PRIORITY names not in registry: {missing}"
    dupes = [
        n for n in set(entry._PRIORITY) if entry._PRIORITY.count(n) > 1
    ]
    assert not dupes, f"_PRIORITY has duplicate names: {dupes}"


def test_sweep_parse_sf_rules():
    """The sweep's demotion decision parses the fixture's scale
    factor (round-13 advice items 1-2): nested 'sf10/data' must parse
    10.0, renamed fixtures keep their prefix factor, and an unrelated
    ancestor like sf2020-era must parse None (no silent demotion)
    rather than 2020."""
    from tools.sf1_spot_sweep import parse_sf

    assert parse_sf("/x/sf10/data") == 10.0
    assert parse_sf("/x/sf10_perm") == 10.0
    assert parse_sf("/x/sf0.1") == 0.1
    # renamed NESTED fixtures keep rename tolerance AND demotion
    # (round-13 review: the first fullmatch tightening lost these)
    assert parse_sf("/x/sf10-v2/data") == 10.0
    assert parse_sf("/x/sf10_perm/data") == 10.0
    # year-like ancestors fail the parent-level plausibility bound
    assert parse_sf("/data/sf2020-era/fixture") is None
    assert parse_sf("/data/sf2020/fixture") is None
    # ... and year-like BASENAMES fail the same bound (round-14,
    # r13 advice item 2: sf2024_snapshot parsed 2024.0 through the
    # unbounded basename arm and silently armed sf10 demotion); an
    # implausible basename must not fall through to the parent arm
    assert parse_sf("/data/sf2024_snapshot") is None
    assert parse_sf("/x/sf10/sf2024_snapshot") is None
    assert parse_sf("/x/sf1000/data") == 1000.0  # bound inclusive


def test_sf10_demotion_selection():
    """tools/sf1_spot_sweep.default_names: at sf10 (and ONLY there)
    the DEMOTED_AT_SF10 rows are pulled out of a default sweep and
    returned with their reason so the artifact records a marker;
    explicit naming bypasses the mechanism entirely (main() only
    calls default_names when no names were given) — that is the
    regression-canary path SCALE.md's policy requires."""
    from tools.sf1_spot_sweep import DEMOTED_AT_SF10, default_names

    queries = ["graph_triangles", "graph_triangles_sampled", "j1", "q1"]
    names, demoted = default_names(queries, "/x/.scratch/sf10")
    assert "graph_triangles" not in names
    assert "graph_triangles_sampled" in names and "q1" in names
    assert demoted == {
        "graph_triangles": DEMOTED_AT_SF10["graph_triangles"]
    }
    names, demoted = default_names(queries, "/x/.scratch/sf1")
    assert "graph_triangles" in names and demoted == {}
    # round-11 advice item 2: the match is the sf<N> prefix of ANY
    # path component, not basename == 'sf10' — renamed copies,
    # nested data dirs, and factor>100 fixtures all still demote
    for path in ("/x/sf10-v2", "/x/sf10_perm", "/x/sf10/data", "/x/sf100"):
        names, demoted = default_names(queries, path)
        assert "graph_triangles" not in names, path
        assert "graph_triangles" in demoted, path
    # no sf component at all: demotion NOT applied (and main's
    # stderr note fires); sf1_perm parses as 1 and keeps exact forms;
    # an sf-prefixed ancestor DEEPER than the parent must not hijack
    # the label (round-12 review: /data/sf2020-era/nested/fixture)
    for path in ("/x/bigdata", "/x/sf1_perm", "/data/sf2020-era/nested/fixture"):
        names, demoted = default_names(queries, path)
        assert "graph_triangles" in names and demoted == {}, path
