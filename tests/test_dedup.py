"""LWW dedup unit semantics: ordering, ties, salt-invariance."""

from __future__ import annotations

import datetime as dt

from binlogsub_spark.operators.dedup import lww_reduce, partial_lww_reduce

TS = dt.datetime(2023, 11, 14, 22, 13, 20)


def _df(spark, rows):
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, text string, _op string, "
        "_ts timestamp, _file_seq int, _log_pos long",
    )


def test_lww_picks_max_version(spark):
    rows = [
        ("c1", 0, "old", "I", TS, 0, 10),
        ("c1", 0, "new", "U", TS + dt.timedelta(seconds=5), 0, 20),
        ("c1", 0, "late-arriving-older", "U", TS - dt.timedelta(hours=2), 1, 5),
        ("c2", 1, "only", "I", TS, 0, 30),
    ]
    out = {(r["conv_id"], r["turn_idx"]): r for r in lww_reduce(_df(spark, rows)).collect()}
    assert out[("c1", 0)]["text"] == "new"
    assert out[("c2", 1)]["text"] == "only"


def test_lww_ts_tie_breaks_on_position(spark):
    rows = [
        ("c1", 0, "pos-low", "I", TS, 0, 10),
        ("c1", 0, "pos-high", "U", TS, 0, 999),
        ("c1", 0, "earlier-file", "U", TS, 0, 500),
    ]
    out = lww_reduce(_df(spark, rows)).collect()
    assert len(out) == 1 and out[0]["text"] == "pos-high"


def test_lww_replay_duplicates_collapse(spark):
    rows = [("c1", 0, "x", "I", TS, 0, 10)] * 3
    out = lww_reduce(_df(spark, rows)).collect()
    assert len(out) == 1 and out[0]["text"] == "x"


def test_salted_equals_unsalted(spark):
    rows = [
        ("hot", 0, f"t{i}", "U", TS + dt.timedelta(seconds=i % 7), 0, i) for i in range(200)
    ] + [("c2", 3, "y", "I", TS, 0, 1)]
    df = _df(spark, rows)
    a = sorted(map(tuple, lww_reduce(df).collect()))
    b = sorted(map(tuple, lww_reduce(partial_lww_reduce(df, salt=8)).collect()))
    assert a == b


def test_dedup_clusters_transitive(spark):
    """a~b and b~c must land in ONE cluster (transitive closure) even
    though the pair a~c was never emitted; singletons stay canonical."""
    from binlogsub_spark.functions.dedup import dedup_clusters

    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id LONG")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a LONG, id_b LONG"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in dedup_clusters(docs, pairs).collect()
    }
    assert got == {
        1: (1, 3, True), 2: (1, 3, False), 3: (1, 3, False),
        4: (4, 1, True), 5: (5, 2, True), 6: (5, 2, False), 7: (7, 1, True),
    }


def test_dedup_clusters_long_chain_converges(spark):
    """A 20-hop chain (worst-case diameter) converges to one cluster —
    the iteration count is bounded by component diameter, not size."""
    from binlogsub_spark.functions.dedup import dedup_clusters

    n = 21
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id LONG")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a LONG, id_b LONG"
    )
    rows = dedup_clusters(docs, pairs).collect()
    assert {r["cluster_id"] for r in rows} == {0}
    assert all(r["cluster_size"] == n for r in rows)


def test_dedup_clusters_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches the per-round materialization to reliable
    storage (cluster-safe); results identical to the localCheckpoint
    default."""
    from pyspark.sql import functions as F

    from binlogsub_spark.functions.dedup import dedup_clusters

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(10)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 1, 0.9), (1, 2, 0.9), (5, 6, 0.8)],
        "id_a long, id_b long, jaccard double",
    )
    base = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in dedup_clusters(docs, pairs).collect()
    }
    ckpt = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in dedup_clusters(
            docs, pairs, checkpoint_dir=str(tmp_path / "ckpt")
        ).collect()
    }
    assert base == ckpt
    assert ckpt[0] == (0, 3, True) and ckpt[2] == (0, 3, False)
    assert ckpt[6] == (5, 2, False) and ckpt[9] == (9, 1, True)
    import os

    assert os.listdir(str(tmp_path / "ckpt"))  # rounds really hit storage


def test_band_store_key_type_must_match_hash_fn(spark):
    """A band store whose ``bh`` type does not match ``hash_fn`` fails
    loudly instead of joining through a lossy implicit cast."""
    import pytest

    from binlogsub_spark.functions.dedup import incremental_minhash_pairs

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    string_store = spark.createDataFrame([(2, 0, "7")], "doc_id long, band int, bh string")
    with pytest.raises(TypeError, match="'bh' is string.*bigint"):
        incremental_minhash_pairs(docs, docs, string_store, hash_fn="xxhash64")
    # the matching pair builds its (lazy) plan
    incremental_minhash_pairs(docs, docs, string_store, hash_fn="md5")
