"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an implemented operator from SURVEY.md §2 (CDC
engine stages re-expressed over the driver's ``events`` table so DuckDB can
oracle them) or a first-class training-data operator (dedup / similarity /
text / multimodal) over ``documents``/``embeddings``. Every SQL-expressible
query has an ``oracle_sql()`` twin with IDENTICAL column names and, where
float-valued, identical rounding. Non-SQL-expressible ops (LSH/minhash/
simhash signatures, Arrow-kernel decode, the full streaming pipeline) are
rows-only and additionally asserted against independent oracles in tests/.
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

# make the sibling package importable however this file is loaded
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------------- CDC
def q_cdc_lww_latest_state(spark, sf):
    """S8/§2.4: keyed last-writer-wins state — max(struct) aggregation, the
    same reduction the engine's merge path uses (map-side combine, no
    window sort; see binlogsub_spark/operators/dedup.py)."""
    ev = _t(spark, sf, "events")
    w = F.max(F.struct("ts", "event_id", "value")).alias("w")
    return ev.groupBy("user_id", "event_type").agg(w).select(
        "user_id",
        "event_type",
        F.col("w.ts").alias("last_ts"),
        F.col("w.event_id").alias("last_event_id"),
        F.round("w.value", 4).alias("last_value"),
    )


def q_cdc_event_type_dispatch(spark, sf):
    """P1: per-event-type demux counts (/root/reference/packet.cc:70-109)."""
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("first_event_id"),
            F.max("event_id").alias("last_event_id"),
        )
    )


def q_cdc_scope_filter(spark, sf):
    """P2/F7: regex scoping before any downstream work
    (/root/reference/packet.cc:201-205, myregex.cc:31-47)."""
    ev = _t(spark, sf, "events")
    return ev.where(
        F.col("event_type").rlike("^(click|purchase)$") & (F.col("user_id") % 10 == 3)
    ).select("event_id", "user_id", "event_type")


def q_cdc_column_projection(spark, sf):
    """P3: ordinal column projection (/root/reference/row.cc:61-89)."""
    ev = _t(spark, sf, "events")
    return ev.where(F.col("event_id") % 20 == 0).select(
        "event_id", "user_id", "event_type", F.round("value", 4).alias("value_r")
    )


def q_cdc_offset_frontier(spark, sf):
    """S6/T1: per-partition monotone offset frontier (the Redis position
    hash /root/reference/business.cc:35-49, made per-partition)."""
    ev = _t(spark, sf, "events")
    return (
        ev.withColumn("partition_id", F.col("user_id") % 32)
        .groupBy("partition_id")
        .agg(
            F.max("event_id").alias("frontier_event_id"),
            F.max("ts").alias("frontier_ts"),
            F.count("*").alias("n_events"),
        )
    )


def q_cdc_schema_registry_join(spark, sf):
    """J1: stream x small-dimension broadcast hash join
    (/root/reference/packet.cc:194-200 table-map lookup)."""
    ev = _t(spark, sf, "events")
    cust = _t(spark, sf, "customer")
    return (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .withColumnRenamed("c_nationkey", "nation_key")
    )


def q_cdc_turn_ordering_window(spark, sf):
    """§2.5: stable per-key ordering window (final transcript turn order)."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).cast("long").alias("turn_seq"),
        F.lag("event_type").over(w).alias("prev_event_type"),
    )


def q_cdc_applied_skipped_metrics(spark, sf):
    """T2-T4: applied/skipped accounting — winners per key are applied,
    superseded events are skipped."""
    ev = _t(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("applied"),
        (F.count("*") - F.countDistinct("user_id")).alias("skipped"),
    )


def q_cdc_windowed_metrics(spark, sf):
    """Event-time tumbling-window rates (run in batch form so DuckDB can
    replay it — window boundaries are epoch-aligned in both engines)."""
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.max("event_id").alias("last_event_id"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "user_id",
            "n_events",
            "n_types",
            "last_event_id",
        )
    )


def q_cdc_session_windows(spark, sf):
    """Gap-based sessionization (an F.session_window aggregation, run in
    batch form so DuckDB can replay it): consecutive events of one user
    within the gap merge into a session — an event exactly ON the end
    boundary (ts - prev == gap) still MERGES (pinned empirically in
    tests/test_streaming.py::test_session_metrics_boundary_semantics);
    session_end = last event + gap. The oracle rebuilds sessions with
    lag + a cumulative break counter (break when the gap is exceeded)."""
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(F.session_window("ts", "10 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.max("event_id").alias("last_event_id"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "last_event_id",
        )
    )


def q_cdc_asof_join(spark, sf):
    """The as-of join operator (operators/asof.py — union + one window
    pass, no pairwise join): each click gets the user's latest purchase
    at-or-before it in (ts, event_id) order. The same op assigns GTIDs to
    decoded rows in the MySQL path."""
    from binlogsub_spark.operators.asof import asof_join

    ev = _t(spark, sf, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.col("event_id").alias("last_purchase_event_id")
    )
    return asof_join(
        clicks,
        purchases,
        order_cols=["ts", "event_id"],
        value_cols=["last_purchase_event_id"],
        partition_cols=["user_id"],
    )


def q_cdc_props_json(spark, sf):
    """F-analog: semi-structured payload extraction (props JSON)."""
    ev = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.sum(k).alias("sum_k"),
    )


def _conv_turns(spark, sf):
    """Transcripts-shaped turn rows derived from ``events``: one
    conversation per user, turns ordered by (ts, event_id) — the exact
    (conv_id, turn_idx, role, text) shape the lake tables hold."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.concat(F.lit("conv-"), F.col("user_id")).alias("conv_id"),
        F.row_number().over(w).cast("long").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
    )


def q_transcript_assemble(spark, sf):
    """Conversation reassembly under stable turn ordering: one map-side-
    combinable aggregation (sort_array over collected turn structs — no
    window over the skewed conv key) renders the full dialog per conv."""
    from binlogsub_spark.functions.transcripts import assemble_transcripts

    return assemble_transcripts(_conv_turns(spark, sf))


def q_transcript_loss_spans(spark, sf):
    """SFT loss-mask spans: for every turn, the character range its text
    occupies inside the assembled transcript and whether the trainer
    masks it (non-assistant roles). Integer window cumsum per conv —
    bit-exact, engine-portable."""
    from binlogsub_spark.functions.transcripts import loss_spans

    return loss_spans(_conv_turns(spark, sf))


def q_transcript_windows(spark, sf):
    """Overlapping training context windows (8 turns, 2 overlap) per
    conversation — sequence+slice explode off one aggregation, no
    self-join; the last window is short rather than duplicated."""
    from binlogsub_spark.functions.transcripts import conversation_windows

    return conversation_windows(_conv_turns(spark, sf), window_turns=8, overlap=2)


_GTID_UUIDS = (
    "3e11fa47-71ca-11e1-9e33-c80aa9429562",
    "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee",
    "99999999-8888-7777-6666-555544443333",
)


def _gtid_tx(spark, sf):
    """Deterministic per-transaction GTID stream from ``events``: three
    server uuids round-robin by event_id, gno = event_id // 3 + 1, with
    holes (event_id % 97 == 0 skipped) so the executed set has real
    gaps. Bijective event_id <-> (uuid, gno)."""
    ev = _t(spark, sf, "events").where(F.col("event_id") % 97 != 0)
    uuid = (
        F.when(F.col("event_id") % 3 == 0, _GTID_UUIDS[0])
        .when(F.col("event_id") % 3 == 1, _GTID_UUIDS[1])
        .otherwise(_GTID_UUIDS[2])
    )
    return ev.select(
        "event_id",
        uuid.alias("server_uuid"),
        (F.col("event_id") / 3 + 1).cast("long").alias("gno"),
    )


def q_cdc_gtid_executed_set(spark, sf):
    """GTID auto-positioning frontier (operators/gtid.py): compress the
    per-transaction (uuid, gno) stream into the executed interval set.
    The heavy stages are equi-joins on the evenly-distributed composite
    (uuid, gno) — no window over the skewed handful-of-uuids key; only
    the compressed endpoints (one row per gap) hit a window."""
    from binlogsub_spark.operators.gtid import gtid_executed_intervals

    return gtid_executed_intervals(_gtid_tx(spark, sf))


def q_cdc_gtid_replay_filter(spark, sf):
    """Resume-replay dedup via GTID sets: the executed set is built from
    the already-applied half of the stream (even event_ids), compressed
    to intervals, collected (bounded — one row per gap), then the FULL
    stream anti-joins the broadcast intervals. Exactly what a GTID
    auto-position resume does server-side, done relationally."""
    from binlogsub_spark.operators.gtid import (
        collect_gtid_set,
        filter_executed,
        gtid_executed_intervals,
    )

    tx = _gtid_tx(spark, sf)
    applied = tx.where(F.col("event_id") % 2 == 0)
    executed = collect_gtid_set(gtid_executed_intervals(applied))
    return filter_executed(tx, executed).select("event_id", "server_uuid", "gno")


# ----------------------------------------------------------- training data
def q_dedup_exact(spark, sf):
    from binlogsub_spark.functions.dedup import exact_duplicates

    out = exact_duplicates(_t(spark, sf, "documents"))
    return out.select(
        "doc_id", "fp", "keeper_id", F.col("group_size").cast("long").alias("group_size"),
        "is_duplicate",
    )


def q_dedup_ngram_jaccard(spark, sf):
    from binlogsub_spark.functions.dedup import jaccard_pairs

    return jaccard_pairs(_t(spark, sf, "documents"), threshold=0.05, max_doc_freq=100)


def q_dedup_minhash_lsh(spark, sf):
    """MinHash+LSH with the md5 hash family so the FULL pipeline —
    shingle -> 64 min-hashes -> 16 band keys -> candidate join -> exact
    Jaccard verify — is value-checked by the DuckDB oracle."""
    from binlogsub_spark.functions.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_t(spark, sf, "documents"), threshold=0.05, hash_fn="md5")


def q_dedup_simhash(spark, sf):
    """SimHash near-dup pairs with DERIVED banding (bands = max_hamming+1,
    pigeonhole-sound) and the md5 hash family for full oracle coverage."""
    from binlogsub_spark.functions.dedup import simhash_pairs

    out = simhash_pairs(_t(spark, sf, "documents"), max_hamming=3, hash_fn="md5")
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def q_dedup_embedding_cosine(spark, sf):
    """Embedding near-dup detection on a corpus with INJECTED true
    near-duplicates (vec_id+10^6 = deterministically perturbed copy,
    cosine ≈ 0.9988): multi-table sign-LSH blocking + exact rescoring.
    Recall vs. brute force is pytest-asserted (rows-only here: the LSH
    candidate set is not ANSI-SQL-expressible)."""
    from binlogsub_spark.functions.similarity import embedding_near_dup

    emb = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    noise = F.transform(
        F.col("embedding"),
        lambda x, i: x + 0.05 * F.sin(F.col("vec_id") * 7 + i) / 8.0,
    )
    pert = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"), noise.alias("embedding")
    )
    return embedding_near_dup(
        emb.unionByName(pert), threshold=0.99, planes=16, tables=4
    )


def q_dedup_clusters(spark, sf):
    """Connected components over MinHash-LSH near-dup pairs -> per-doc
    cluster assignment (min-label propagation, functions/dedup.py:
    dedup_clusters) — the stage that turns pair detectors into "keep one
    doc per duplicate CLUSTER" (transitive closure: a~b, b~c collapse to
    one keeper even when a~c was never emitted). Oracle: DuckDB
    WITH RECURSIVE transitive closure over the SAME md5-family pair SQL."""
    from binlogsub_spark.functions.dedup import dedup_clusters, minhash_lsh_pairs

    d = _t(spark, sf, "documents")
    pairs = minhash_lsh_pairs(d, threshold=0.05, hash_fn="md5")
    out = dedup_clusters(d, pairs)
    return out.select(
        "doc_id", "cluster_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "is_canonical",
    )


def q_similarity_cosine_topk(spark, sf):
    """Exact brute-force cosine top-5 for query vectors (vec_id < 20),
    pure JVM expressions (zip_with/aggregate fold) so the SQL oracle is
    bit-identical."""
    e = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    nq = F.sqrt(F.aggregate("qv", F.lit(0.0), lambda a, x: a + x * x))
    nc = F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x))
    scored = (
        F.broadcast(q)
        .join(e, F.col("query_id") != F.col("vec_id"))
        .withColumn("cos", dot / (nq * nc))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 5)
        .select("query_id", "vec_id", F.round("cos", 4).alias("cosine"), "rank")
    )


def q_similarity_ann_arrow_topk(spark, sf):
    """Arrow/numpy brute-force top-k (one BLAS matmul per batch) — the
    throughput path; equality with the expression version is pytest-
    asserted (tests/test_functions.py)."""
    from binlogsub_spark.functions.similarity import cosine_topk

    emb = _t(spark, sf, "embeddings")
    return cosine_topk(emb, emb.where(F.col("vec_id") < 20), k=5).select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_similarity_lsh_topk(spark, sf):
    from binlogsub_spark.functions.similarity import lsh_topk

    emb = _t(spark, sf, "embeddings")
    return lsh_topk(emb, emb.where(F.col("vec_id") < 20), k=5, planes=4).select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def q_similarity_embedding_pairs(spark, sf):
    """Embedding near-dup pairs with an exact SQL oracle: anchor subset
    (vec_id % 10 == 0) vs full corpus, cosine >= 0.2, pure JVM fold."""
    e = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    a = e.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va")
    )
    b = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(F.aggregate("va", F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate("vb", F.lit(0.0), lambda acc, x: acc + x * x))
    return (
        F.broadcast(a)
        .join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(dot / (na * nb), 4))
        .where(F.col("cosine") >= 0.2)
        .select("id_a", "id_b", "cosine")
    )


def q_similarity_ivf_topk(spark, sf):
    """IVF-style ANN (rows-only): coarse quantize the corpus to hash-seeded
    centroids, probe the query's nearest cells only, exact rescoring inside
    probed cells. Recall vs brute force is pytest-asserted."""
    from binlogsub_spark.functions.similarity import ivf_topk

    emb = _t(spark, sf, "embeddings")
    return ivf_topk(emb, emb.where(F.col("vec_id") < 20), k=5).select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _recall_vs_exact(exact, ann, min_recall: float):
    """Per-query recall of an ANN result against the exact top-k, emitted
    as a driver-checkable invariant: the oracle asserts recall_ok=TRUE for
    every query, so a regression in the ANN path (bucketing, probing,
    rescoring) turns the query red instead of hiding behind rows-only."""
    hits = exact.join(ann, ["query_id", "vec_id"], "left_semi")
    per_q = (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("n_exact"))
        .join(
            hits.groupBy("query_id").agg(F.count("*").alias("hits")),
            "query_id",
            "left",
        )
        .na.fill({"hits": 0})
    )
    return per_q.select(
        "query_id",
        "n_exact",
        (F.col("hits") / F.col("n_exact") >= min_recall).alias("recall_ok"),
    )


def q_similarity_lsh_recall(spark, sf):
    """LSH top-k, driver-gated by a numeric invariant (r2 VERDICT item 8):
    per-query recall@5 vs the exact brute-force top-5 must clear 0.6.
    Single-table sign-LSH measured ~25% recall on these embeddings
    (top-5 neighbors sit at cosine ~0.3, rarely sharing one fine
    bucket); 16 tables x 3 planes measured min 0.80 / mean 0.98, so the
    0.6 gate has margin while still catching any bucketing/probing
    regression."""
    from binlogsub_spark.functions.similarity import cosine_topk, lsh_topk

    emb = _t(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") < 20)
    exact = cosine_topk(emb, q, k=5).select("query_id", "vec_id")
    ann = lsh_topk(emb, q, k=5, planes=3, tables=16).select("query_id", "vec_id")
    return _recall_vs_exact(exact, ann, min_recall=0.6)


def q_similarity_ivf_recall(spark, sf):
    """IVF top-k under the same recall invariant: probing 8 of the
    ~sqrt(n) cells measured per-query recall min 0.40 / mean 0.57 on the
    deterministic sf0.01 data, so every query must stay >= 0.4 — a
    regression in cell assignment or probing goes red."""
    from binlogsub_spark.functions.similarity import cosine_topk, ivf_topk

    emb = _t(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") < 20)
    exact = cosine_topk(emb, q, k=5).select("query_id", "vec_id")
    ann = ivf_topk(emb, q, k=5, n_probe=8).select("query_id", "vec_id")
    return _recall_vs_exact(exact, ann, min_recall=0.4)


def q_dedup_embedding_recall(spark, sf):
    """Embedding near-dup dedup, driver-gated numerically: the multi-table
    sign-LSH blocking must recover >= 98% of the TRUE cosine>=0.99 pairs
    (the exact pair set is computed in BOTH engines by brute force —
    Spark recomputes it with JVM expressions, DuckDB with
    list_dot_product — so n_true itself is value-checked too)."""
    from binlogsub_spark.functions.similarity import embedding_near_dup

    emb = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    noise = F.transform(
        F.col("embedding"),
        lambda x, i: x + 0.05 * F.sin(F.col("vec_id") * 7 + i) / 8.0,
    )
    pert = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"), noise.alias("embedding")
    )
    corpus = emb.unionByName(pert)
    found = embedding_near_dup(corpus, threshold=0.99, planes=16, tables=4)

    v = corpus.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    a = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(F.aggregate("va", F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate("vb", F.lit(0.0), lambda acc, x: acc + x * x))
    true_pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .where(F.round(dot / (na * nb), 6) >= 0.99)
        .select("id_a", "id_b")
    )
    stats = true_pairs.agg(F.count("*").alias("n_true")).crossJoin(
        true_pairs.join(found, ["id_a", "id_b"], "left_semi").agg(
            F.count("*").alias("n_recovered")
        )
    )
    return stats.select(
        "n_true",
        (F.col("n_recovered") / F.col("n_true") >= 0.98).alias("recall_ok"),
    )


def q_text_token_count(spark, sf):
    from binlogsub_spark.functions.text import bpe_ish_token_count, token_count

    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).cast("long").alias("n_pieces"),
    )


def q_text_quality_score(spark, sf):
    from binlogsub_spark.functions.text import quality_features

    d = _t(spark, sf, "documents")
    feats = quality_features(F.col("text"))
    return d.select(
        "doc_id",
        feats["n_chars"].cast("long").alias("n_chars"),
        feats["n_tokens"].cast("long").alias("n_tokens"),
        feats["stop_ratio"].alias("stop_ratio"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["digit_ratio"].alias("digit_ratio"),
        feats["quality_score"].alias("quality_score"),
    )


def q_text_lang_id(spark, sf):
    from binlogsub_spark.functions.text import lang_id

    return _t(spark, sf, "documents").select(
        "doc_id", lang_id(F.col("text")).alias("pred_lang")
    )


def q_text_fingerprint(spark, sf):
    from binlogsub_spark.functions.text import fingerprint

    return _t(spark, sf, "documents").select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )


def q_text_pii_scrub(spark, sf):
    """PII scrubbing (functions/text.py pii_features), DuckDB-oracled:
    deterministic emails / IPv4s / phone runs / SSN-shaped ids are
    injected into the documents text, then masked with typed tokens under
    sequential count-then-replace semantics; the oracle replays the same
    injection + regex cascade with RE2 (the patterns avoid every
    Java-vs-RE2 divergence: no backreferences, no lookaround)."""
    from binlogsub_spark.functions.text import pii_features

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" contact user"), did.cast("string"), F.lit("@example.com")
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" ip 10.0."), (did % 256).cast("string"), F.lit(".7")),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" call +1 555 01"),
                F.lpad((did % 100).cast("string"), 2, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(did % 11 == 0, F.lit(" ssn 123-45-6789")).otherwise(F.lit("")),
    )
    feats = pii_features(injected)
    return d.select(
        "doc_id",
        feats["pii_email"].cast("long").alias("pii_email"),
        feats["pii_ssn"].cast("long").alias("pii_ssn"),
        feats["pii_ipv4"].cast("long").alias("pii_ipv4"),
        feats["pii_phone"].cast("long").alias("pii_phone"),
        F.md5(feats["text_scrubbed"]).alias("scrub_fp"),
    )


def q_text_decontaminate(spark, sf):
    """Benchmark decontamination (functions/dedup.py decontaminate),
    DuckDB-oracled: corpus docs are flagged by word-5-gram overlap with an
    'evaluation set' (the doc_id%17 subset); the eval shingle set is
    BROADCAST so the corpus pays one shingle pass + a map-side semi-join.
    The oracle replays the same shingling and overlap count in SQL."""
    from binlogsub_spark.functions.dedup import decontaminate

    d = _t(spark, sf, "documents")
    ev = d.where(F.col("doc_id") % 17 == 0)
    out = decontaminate(d, ev, n=5)
    return out.select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_contaminated").cast("long").alias("n_contaminated"),
        "contaminated",
    )


def q_corpus_clean(spark, sf):
    """The composed training-data pipeline (the reason the operator family
    exists): exact-dedup to keepers -> quality gate -> language filter ->
    clean corpus with per-doc features. Every stage is JVM expressions, so
    the WHOLE pipeline has an exact SQL oracle."""
    from binlogsub_spark.functions.dedup import exact_duplicates
    from binlogsub_spark.functions.text import lang_id, quality_features

    d = _t(spark, sf, "documents")
    keep = exact_duplicates(d).where(~F.col("is_duplicate")).select("doc_id", "fp")
    feats = quality_features(F.col("text"))
    scored = d.join(keep, "doc_id").select(
        "doc_id",
        "fp",
        lang_id(F.col("text")).alias("lang"),
        feats["n_tokens"].cast("long").alias("n_tokens"),
        feats["quality_score"].alias("quality_score"),
    )
    return scored.where(
        (F.col("quality_score") >= 500) & (F.col("lang") == "en") & (F.col("n_tokens") >= 10)
    )


def q_multimodal_metadata(spark, sf):
    from binlogsub_spark.functions.multimodal import attach_media

    d = _t(spark, sf, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    m = attach_media(d, "doc_id", "payload", kind="image")
    return m.select(
        "media_id",
        "kind",
        F.col("meta.mime").alias("mime"),
        F.col("meta.n_bytes").cast("long").alias("n_bytes"),
        F.col("meta.sha256").alias("sha256"),
    )


def _mixed_media(spark, sf):
    """Mixed-codec media fixture: EVEN doc_ids carry GENUINE images with
    deterministic per-id dimensions and constant channel values (so the
    oracle can predict real decode output) — doc_id % 4 == 0 as P6 PPM,
    doc_id % 4 == 2 as 24-bit BMP, proving the codec dispatch generalizes
    past one magic; ODD doc_ids carry raw text bytes that exercise the
    stub codec path. One corpus drives all three sides of the dispatch."""
    import pandas as pd

    from binlogsub_spark.functions.dedup import _rebalance
    from binlogsub_spark.functions.multimodal import (
        attach_media,
        encode_bmp,
        encode_ppm,
    )

    # the sf tables are single parquet files -> one partition; without a
    # rebalance the whole encode+sha+decode pipeline runs on ONE core
    # (at real scale input splits >> cores and this is a no-op)
    d = _rebalance(_t(spark, sf, "documents").select("doc_id", "text"))

    def _build(batches):
        import numpy as np

        for pdf in batches:
            payloads = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                if did % 2 == 0:
                    w, h = 100 + did % 200, 60 + did % 150
                    px = np.empty((h, w, 3), np.uint8)
                    px[..., 0] = did % 256
                    px[..., 1] = (did * 7) % 256
                    px[..., 2] = (did * 13) % 256
                    payloads.append(
                        encode_ppm(px) if did % 4 == 0 else encode_bmp(px)
                    )
                else:
                    payloads.append(str(text).encode("utf-8"))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    built = d.mapInPandas(_build, schema="doc_id long, payload binary")
    return attach_media(built, "doc_id", "payload", kind="image")


def q_multimodal_decode_features(spark, sf):
    """Feature extraction over the MIXED corpus: even ids decode REAL PPM
    pixels (header dims + genuine channel means), odd ids the stub. Both
    paths fully value-checked by the oracle."""
    from binlogsub_spark.functions.multimodal import decode_media

    feats = decode_media(_mixed_media(spark, sf))
    return feats.select(
        "media_id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.round(F.element_at("feature", 1).cast("double"), 4).alias("f0"),
        F.round(F.element_at("feature", 2).cast("double"), 4).alias("f1"),
        F.round(F.element_at("feature", 3).cast("double"), 4).alias("f2"),
    )


def q_multimodal_resize(spark, sf):
    """Resize over the MIXED corpus: even ids run the REAL pipeline
    (PPM header parse -> nearest-neighbor resample on real pixels -> PPM
    re-encode, new_n_bytes = true re-encoded size); odd ids run the stub
    path (dimension math only, new_n_bytes NULL). All oracled."""
    from binlogsub_spark.functions.multimodal import resize_media

    out = resize_media(_mixed_media(spark, sf), max_side=128)
    return out.select(
        "media_id", "kind",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("new_width").cast("long").alias("new_width"),
        F.col("new_height").cast("long").alias("new_height"),
        "resized",
        F.col("new_n_bytes").cast("long").alias("new_n_bytes"),
    )


def q_multimodal_frame_sample(spark, sf):
    """Video frame-sampling fan-out (one row per stride-sampled frame
    index with a per-frame feature) — the mapInPandas explode shape of a
    real ffmpeg frame extractor, deterministic via the stub codec and
    fully oracled."""
    from binlogsub_spark.functions.multimodal import attach_media, frame_sample

    d = _t(spark, sf, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    out = frame_sample(attach_media(d, "doc_id", "payload", kind="video"), every_n=8)
    return out.select(
        "media_id",
        F.col("n_frames").cast("long").alias("n_frames"),
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.round(F.col("f0").cast("double"), 4).alias("f0"),
    )


def _mixed_audio(spark, sf):
    """Mixed-codec AUDIO fixture: EVEN doc_ids carry GENUINE RIFF/PCM WAV
    payloads with per-id deterministic rate/channels/length and constant
    per-channel amplitudes (odd integers, so the oracle can predict the
    real RMS/peak exactly and no value sits on a round-half boundary);
    doc_id % 4 == 0 mono, % 4 == 2 stereo. ODD doc_ids carry raw text
    bytes that exercise the audio stub path."""
    import pandas as pd

    from binlogsub_spark.functions.dedup import _rebalance
    from binlogsub_spark.functions.multimodal import attach_media, encode_wav

    d = _rebalance(_t(spark, sf, "documents").select("doc_id", "text"))

    def _build(batches):
        import numpy as np

        for pdf in batches:
            payloads = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                if did % 2 == 0:
                    rate = 8000 + (did % 5) * 2000
                    n = 400 + did % 600
                    a = 1 + 2 * ((did * 37) % 9999)
                    if did % 4 == 0:
                        samples = np.full((n, 1), a, dtype=np.int16)
                    else:
                        b = 1 + 2 * ((did * 91) % 9999)
                        samples = np.empty((n, 2), dtype=np.int16)
                        samples[:, 0] = a
                        samples[:, 1] = b
                    payloads.append(encode_wav(samples, rate))
                else:
                    payloads.append(str(text).encode("utf-8"))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    built = d.mapInPandas(_build, schema="doc_id long, payload binary")
    return attach_media(built, "doc_id", "payload", kind="audio")


def q_multimodal_audio_features(spark, sf):
    """Audio feature extraction over the MIXED corpus: even ids decode
    REAL RIFF/PCM (chunk walk -> genuine sample RMS/peak), odd ids the
    digest stub. Both paths fully value-checked by the oracle."""
    from binlogsub_spark.functions.multimodal import decode_audio

    feats = decode_audio(_mixed_audio(spark, sf))
    return feats.select(
        "media_id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("channels").cast("long").alias("channels"),
        F.col("n_samples").cast("long").alias("n_samples"),
        F.col("duration_ms").cast("long").alias("duration_ms"),
        F.round(F.col("rms").cast("double"), 4).alias("rms"),
        F.round(F.col("peak").cast("double"), 4).alias("peak"),
    )


def q_multimodal_audio_resample(spark, sf):
    """Rate conversion over the MIXED corpus: even ids run the REAL
    pipeline (RIFF decode -> nearest-sample resample to 16 kHz -> WAV
    re-encode, new_n_bytes = true re-encoded size; already-at-rate files
    pass through); odd ids are opaque non-WAV content (NULL outputs —
    the stub boundary). All oracled."""
    from binlogsub_spark.functions.multimodal import resample_audio

    out = resample_audio(_mixed_audio(spark, sf), target_rate=16000)
    return out.select(
        "media_id",
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("new_sample_rate").cast("long").alias("new_sample_rate"),
        F.col("n_samples").cast("long").alias("n_samples"),
        F.col("new_n_samples").cast("long").alias("new_n_samples"),
        "resampled",
        F.col("new_n_bytes").cast("long").alias("new_n_bytes"),
    )


_ETYPE_ENUM = ("click", "error", "purchase", "signup", "view")


def _mysql_events_tmap():
    from binlogsub_spark.mysql_binlog import (
        MYSQL_TYPE_DATETIME2,
        MYSQL_TYPE_ENUM,
        MYSQL_TYPE_LONG,
        MYSQL_TYPE_LONGLONG,
        MYSQL_TYPE_NEWDECIMAL,
        MYSQL_TYPE_STRING,
        MYSQL_TYPE_TINY,
        MYSQL_TYPE_VARCHAR,
        MysqlColumn,
        TableMap,
    )

    return TableMap(
        table_id=7,
        db="test",
        table="events_cdc",
        columns=[
            MysqlColumn("id", MYSQL_TYPE_LONGLONG, nullable=False),
            MysqlColumn("user_id", MYSQL_TYPE_LONG),
            MysqlColumn(
                "etype", MYSQL_TYPE_STRING, meta=(MYSQL_TYPE_ENUM, 1),
                enum_values=_ETYPE_ENUM,
            ),
            MysqlColumn("score", MYSQL_TYPE_NEWDECIMAL, meta=(18, 4)),
            MysqlColumn("ts", MYSQL_TYPE_DATETIME2, meta=6),
            MysqlColumn("k", MYSQL_TYPE_TINY),
            MysqlColumn("props", MYSQL_TYPE_VARCHAR, meta=512),
        ],
    )


def _mysql_flat_events(spark, sf):
    """Typed rows (matching _mysql_events_tmap's column layout) derived
    from the events table — the input to the MySQL-format fixture encoder
    (shared by the driver query and bench.py)."""
    ev = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select(
        F.col("event_id").alias("id"),
        "user_id",
        F.array_position(
            F.array(*[F.lit(s) for s in _ETYPE_ENUM]), F.col("event_type")
        ).cast("long").alias("etype"),
        F.round("value", 4).cast("decimal(18,4)").alias("score"),
        "ts",
        F.when(k % 7 == 0, F.lit(None).cast("long")).otherwise(k % 100).alias("k"),
        "props",
    )


def q_cdc_mysql_row_decode(spark, sf):
    """The reference's core competency made real (event.cc:104-221 table
    map, 246-342 rows events + bitmaps, 413-809 ParseColumnValue): events
    are packed into GENUINE MySQL-format binlog frames (multi-row
    WRITE_ROWS v2, CRC32 checksums, in-stream TABLE_MAP control events),
    then decoded by the vectorized wave kernel. The DuckDB oracle is the
    identity projection — so every decoded byte is value-checked."""
    from binlogsub_spark.mysql_binlog import (
        decode_mysql_events,
        encode_rows_df,
        extract_table_maps,
    )

    tmap = _mysql_events_tmap()
    raw = encode_rows_df(_mysql_flat_events(spark, sf), tmap, rows_per_event=4, checksum=True)
    registry = extract_table_maps(raw, checksum=True)
    decoded = decode_mysql_events(
        raw, registry, column_overrides={7: tmap.columns}, checksum=True
    )
    # score decodes as DecimalType(18,4) (exact scaled-int kernel); the
    # driver compare goes through pandas where DuckDB lowers DECIMAL to
    # float64, so the exactness check is the decimal's STRING form —
    # every digit of the packed decimal compared, no float rounding.
    return decoded.select(
        "op", "id", "user_id", "etype",
        F.col("score").cast("string").alias("score"),
        "ts", "k", "props",
    )


def q_cdc_mysql_rows_v1(spark, sf):
    """The same decode pipeline over the OLDER rows-event generation
    (v1, codes 0x17-0x19 — MySQL 5.1-5.6, no extra-data field; the
    reference dispatches both generations, packet.cc:70-109). Identical
    values out of a different wire layout — value-checked by the SAME
    identity oracle as the v2 query."""
    from binlogsub_spark.mysql_binlog import (
        decode_mysql_events,
        encode_rows_df,
        extract_table_maps,
    )

    tmap = _mysql_events_tmap()
    raw = encode_rows_df(
        _mysql_flat_events(spark, sf), tmap, rows_per_event=4, checksum=True,
        rows_version=1,
    )
    registry = extract_table_maps(raw, checksum=True)
    decoded = decode_mysql_events(
        raw, registry, column_overrides={7: tmap.columns}, checksum=True
    )
    return decoded.select(
        "op", "id", "user_id", "etype",
        F.col("score").cast("string").alias("score"),
        "ts", "k", "props",
    )


def q_dedup_incremental(spark, sf):
    """Incremental dedup — the 100 TB training-data shape: today's batch
    (odd doc_ids) deduped against the EXISTING corpus (even doc_ids) via a
    persisted MinHash band-key store. The corpus is never re-shingled:
    candidates come from an equi-join of the batch's band keys against the
    store; only band-matched corpus docs are re-read for the exact-Jaccard
    verify. md5 hash family -> the whole pipeline is value-checked by the
    DuckDB oracle."""
    from binlogsub_spark.functions.dedup import (
        incremental_minhash_pairs,
        minhash_band_store,
    )

    docs = _t(spark, sf, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    store = minhash_band_store(corpus, hash_fn="md5")
    return incremental_minhash_pairs(
        new, corpus, store, threshold=0.05, hash_fn="md5"
    )


_SET_MEMBERS = ("alpha", "beta", "gamma")


def _mysql_matrix_tmap():
    from binlogsub_spark.mysql_binlog import (
        MYSQL_TYPE_BIT,
        MYSQL_TYPE_DATETIME,
        MYSQL_TYPE_JSON,
        MYSQL_TYPE_LONGLONG,
        MYSQL_TYPE_NEWDATE,
        MYSQL_TYPE_NEWDECIMAL,
        MYSQL_TYPE_SET,
        MYSQL_TYPE_STRING,
        MYSQL_TYPE_TIME,
        MYSQL_TYPE_TIMESTAMP,
        MysqlColumn,
        TableMap,
    )

    return TableMap(
        table_id=8,
        db="test",
        table="type_matrix",
        columns=[
            MysqlColumn("id", MYSQL_TYPE_LONGLONG, nullable=False),
            MysqlColumn("d", MYSQL_TYPE_NEWDATE),
            MysqlColumn(
                "s", MYSQL_TYPE_STRING, meta=(MYSQL_TYPE_SET, 1),
                set_values=_SET_MEMBERS,
            ),
            MysqlColumn("b", MYSQL_TYPE_BIT, meta=12),
            MysqlColumn("c", MYSQL_TYPE_STRING, meta=(MYSQL_TYPE_STRING, 20)),
            MysqlColumn("t1", MYSQL_TYPE_TIMESTAMP),
            MysqlColumn("dt1", MYSQL_TYPE_DATETIME),
            MysqlColumn("tm", MYSQL_TYPE_TIME),
            MysqlColumn("wd", MYSQL_TYPE_NEWDECIMAL, meta=(30, 10)),
            # wider than Spark's DecimalType(38) ceiling: decodes to the
            # exact canonical string (full mydecimal 65-digit range)
            MysqlColumn("wd50", MYSQL_TYPE_NEWDECIMAL, meta=(50, 10)),
            MysqlColumn("js", MYSQL_TYPE_JSON, meta=4),
        ],
    )


def q_cdc_mysql_type_matrix(spark, sf):
    """The rest of the reference's ParseColumnValue type matrix
    (event.cc:534-710), value-checked end to end: DATE/NEWDATE, SET
    (bitmask -> member names), BIT, CHAR-under-STRING, temporal v1
    (TIMESTAMP/DATETIME/TIME) and a wide DECIMAL(30,10) are packed into
    genuine rows-event frames and decoded by the wave kernel. DATE and
    DECIMAL compare via their STRING forms (exact to every digit; the
    pandas bridge lowers DuckDB DECIMAL to lossy float64)."""
    from binlogsub_spark.mysql_binlog import (
        decode_mysql_events,
        encode_rows_df,
        extract_table_maps,
    )

    tmap = _mysql_matrix_tmap()
    ev = _t(spark, sf, "events")
    flat = ev.select(
        F.col("event_id").alias("id"),
        F.when(F.col("event_id") % 13 == 0, F.lit(None).cast("date"))
        .otherwise(F.to_date("ts")).alias("d"),
        F.when(F.col("user_id") % 10 == 0, F.lit(None).cast("long"))
        .otherwise((F.col("user_id") % 8).cast("long")).alias("s"),
        (F.col("event_id") % 4096).cast("long").alias("b"),
        F.col("event_type").alias("c"),
        F.unix_timestamp("ts").alias("t1"),
        F.col("ts").alias("dt1"),
        (
            F.when(F.col("user_id") % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
            * (
                (F.col("user_id") % 24) * 3600
                + (F.col("event_id") % 60) * 60
                + (F.col("event_id") % 7)
            )
        ).cast("long").alias("tm"),
        F.expr(
            "CAST(CONCAT(CAST(event_id AS STRING), '234567890.1234567891')"
            " AS DECIMAL(30,10))"
        ).alias("wd"),
        # DECIMAL(50,10) travels as its exact string (Spark cannot hold
        # >38 digits); the fixture encoder packs it via Decimal(str)
        F.when(F.col("event_id") % 19 == 0, F.lit(None).cast("string")).otherwise(
            F.concat(
                F.when(F.col("user_id") % 3 == 0, F.lit("-")).otherwise(F.lit("")),
                F.lit("9"),
                F.lpad((F.col("event_id") % 100000).cast("string"), 5, "0"),
                F.lit("2345678901234567890123456789012345"),
                F.lit(".0987654321"),
            )
        ).alias("wd50"),
        # JSON column: the engine packs this TEXT into genuine MySQL
        # binary JSON and the decoder re-renders canonical compact text
        # (the reference errors out on type 245 entirely)
        F.when(F.col("event_id") % 17 == 0, F.lit(None).cast("string")).otherwise(
            F.concat(
                F.lit('{"k":'), (F.col("event_id") % 1000).cast("string"),
                F.lit(',"tag":"'), F.col("event_type"),
                F.lit('","ok":'),
                F.when(F.col("user_id") % 2 == 0, F.lit("true")).otherwise(F.lit("false")),
                F.lit(',"ids":['), (F.col("user_id") % 50).cast("string"),
                F.lit(","), (F.col("event_id") % 7).cast("string"), F.lit("]}"),
            )
        ).alias("js"),
    )
    raw = encode_rows_df(flat, tmap, rows_per_event=3, checksum=True)
    registry = extract_table_maps(raw, checksum=True)
    decoded = decode_mysql_events(
        raw, registry, column_overrides={8: tmap.columns}, checksum=True
    )
    return decoded.select(
        "id",
        F.col("d").cast("string").alias("d"),
        "s",
        "b",
        "c",
        "t1",
        "dt1",
        "tm",
        F.col("wd").cast("string").alias("wd"),
        "wd50",
        "js",
    )


# --------------------------------------------------------------- engine e2e
def _events_as_flat_changes(spark, sf):
    """Deterministic change-record stream DERIVED from the driver's events
    table (so DuckDB can mirror the derivation and every engine stage below
    gets a full value oracle). Shapes: op from event_type, position from
    event_id, schema epoch 1 for event_id%5==0 (those frames predate the
    `tool` column), transcripts image from (user_id, event_id, ts)."""
    ev = _t(spark, sf, "events")
    op = (
        F.when(F.col("event_type") == "purchase", F.lit("U"))
        .when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("I"))
    )
    sv = F.when(F.col("event_id") % 5 == 0, F.lit(1)).otherwise(F.lit(2))
    role = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
        (F.col("event_id") % 3 + 1).cast("int"),
    )
    conv = F.concat(F.lit("c"), F.col("user_id").cast("string"))
    turn = (F.col("event_id") % 50).cast("int")
    text = F.concat(
        F.lit("m|"), conv, F.lit("|t"), turn.cast("string"),
        F.lit("|e"), F.col("event_id").cast("string"),
    )
    tool = F.when(
        (sv >= 2) & (role == "tool"),
        F.concat(F.lit("tool_"), (F.col("event_id") % 5).cast("string")),
    ).otherwise(F.lit(None).cast("string"))
    return ev.select(
        (F.col("event_id") / 4096).cast("int").alias("file_seq"),
        (F.lit(4) + (F.col("event_id") % 4096) * 128).cast("long").alias("log_pos"),
        F.col("ts").alias("server_ts"),
        op.alias("op"),
        F.lit("test").alias("db_name"),
        F.lit("transcripts").alias("table_name"),
        sv.cast("int").alias("schema_version"),
        conv.alias("conv_id"),
        turn.alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.col("ts").alias("ts"),
    )


# SQL twin of _events_as_flat_changes (DuckDB), kept adjacent so drift is
# visible in review.
_FLAT_CHANGES_SQL = """
    SELECT CAST(event_id // 4096 AS INT) AS file_seq,
           4 + (event_id % 4096) * 128 AS log_pos,
           ts AS server_ts,
           CASE WHEN event_type = 'purchase' THEN 'U'
                WHEN event_type = 'error' THEN 'D' ELSE 'I' END AS op,
           'test' AS db_name, 'transcripts' AS table_name,
           CASE WHEN event_id % 5 = 0 THEN 1 ELSE 2 END AS schema_version,
           'c' || CAST(user_id AS VARCHAR) AS conv_id,
           event_id % 50 AS turn_idx,
           ['user','assistant','tool'][CAST(event_id % 3 AS INT) + 1] AS role,
           'm|c' || CAST(user_id AS VARCHAR) || '|t' || CAST(event_id % 50 AS VARCHAR)
               || '|e' || CAST(event_id AS VARCHAR) AS text,
           CASE WHEN event_id % 5 <> 0 AND event_id % 3 = 2
                THEN 'tool_' || CAST(event_id % 5 AS VARCHAR) END AS tool,
           ts
    FROM events
"""


def q_cdc_pipeline_e2e(spark, sf):
    """The full engine end to end, value-checked by DuckDB: change records
    derived from the events table are MERGE-applied (scope filter -> salted
    LWW -> COW MERGE incl. tombstones) into a fresh lake table; the oracle
    replays the same LWW independently. A re-delivered suffix (event_id%13
    == 0, identical positions) exercises duplicate collapse."""
    from binlogsub_spark.config import EngineConfig
    from binlogsub_spark.lake.table import LakeTable
    from binlogsub_spark.pipeline import apply_batch

    flat = _events_as_flat_changes(spark, sf)
    img = F.struct("conv_id", "turn_idx", "role", "text", "tool", "ts")
    before = F.struct(
        "conv_id", "turn_idx", "role",
        F.concat(F.lit("prev|"), F.col("text")).alias("text"),
        F.lit(None).cast("string").alias("tool"), F.col("ts").alias("ts"),
    )
    envelope = flat.select(
        "file_seq", "log_pos", "server_ts", "op", "db_name", "table_name",
        "schema_version",
        F.when(F.col("op") != "I", before).alias("before"),
        F.when(F.col("op") != "D", img).alias("after"),
    )
    envelope = envelope.unionByName(envelope.where(F.col("log_pos") % 13 == 0))
    tmp = tempfile.mkdtemp(prefix="binlogsub_e2e_")
    table = LakeTable(spark, os.path.join(tmp, "tbl"), buckets=16)
    # envelope is an expensive computed plan (not a re-scannable file
    # source): cache it across the lineage + merge jobs
    apply_batch(table, envelope, batch_id=1, cfg=EngineConfig(), persist_source=True)
    return table.read().select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        "role", "text", "tool", "ts",
    )


def q_cdc_targeted_delete(spark, sf):
    """Right-to-be-forgotten through the LWW merge, value-checked by
    DuckDB: the full e2e replay lands first, then every conversation
    whose conv_id ends in '3' is erased via LakeTable.delete_keys —
    ordinary tombstones, bucket-pruned reads (the key set hashes to a
    bucket list before a byte of the table is read). Oracle = the e2e
    LWW replay minus the erased conversations."""
    from binlogsub_spark.config import EngineConfig
    from binlogsub_spark.lake.table import LakeTable
    from binlogsub_spark.pipeline import apply_batch

    flat = _events_as_flat_changes(spark, sf)
    img = F.struct("conv_id", "turn_idx", "role", "text", "tool", "ts")
    envelope = flat.select(
        "file_seq", "log_pos", "server_ts", "op", "db_name", "table_name",
        "schema_version",
        F.when(F.col("op") != "I", img).alias("before"),
        F.when(F.col("op") != "D", img).alias("after"),
    )
    tmp = tempfile.mkdtemp(prefix="binlogsub_del_")
    table = LakeTable(spark, os.path.join(tmp, "tbl"), buckets=16)
    apply_batch(table, envelope, batch_id=1, cfg=EngineConfig(), persist_source=True)
    doomed = [
        r["conv_id"]
        for r in table.read()
        .select("conv_id")
        .where(F.col("conv_id").endswith("3"))
        .distinct()
        .collect()
    ]
    table.delete_keys(doomed, batch_id=2)
    return table.read().select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        "role", "text", "tool", "ts",
    )


def q_cdc_backfill_column(spark, sf):
    """Derived-column backfill at rest, value-checked by DuckDB: the e2e
    replay lands, then LakeTable.backfill adds text_len = length(text)
    to every live row as one atomic snapshot (one bucket-colocated
    rewrite — the derivation rides the scan, no join). Oracle = the e2e
    LWW replay with the same expression."""
    from binlogsub_spark.config import EngineConfig
    from binlogsub_spark.lake.table import LakeTable
    from binlogsub_spark.pipeline import apply_batch

    flat = _events_as_flat_changes(spark, sf)
    img = F.struct("conv_id", "turn_idx", "role", "text", "tool", "ts")
    envelope = flat.select(
        "file_seq", "log_pos", "server_ts", "op", "db_name", "table_name",
        "schema_version",
        F.when(F.col("op") == "D", img).alias("before"),
        F.when(F.col("op") != "D", img).alias("after"),
    )
    tmp = tempfile.mkdtemp(prefix="binlogsub_bf_")
    table = LakeTable(spark, os.path.join(tmp, "tbl"), buckets=16)
    apply_batch(table, envelope, batch_id=1, cfg=EngineConfig(), persist_source=True)
    table.backfill("text_len", "length(text)")
    return table.read().select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        "role", "text", "tool", "ts",
        F.col("text_len").cast("long").alias("text_len"),
    )


def q_cdc_rebucket_e2e(spark, sf):
    """Online bucket rescaling mid-stream, value-checked by DuckDB: the
    first half of the change stream MERGEs into an 8-bucket table, the
    table rescales 8 -> 32 (the k-aligned, exchange-free rewrite:
    pmod(h,32) determines pmod(h,8), so the remap is partition-local),
    the second half MERGEs against the new modulus. The rescale must be
    INVISIBLE to the result: the oracle is the plain LWW replay of the
    whole stream, identical to cdc_pipeline_e2e's."""
    from binlogsub_spark.config import EngineConfig
    from binlogsub_spark.lake.table import LakeTable
    from binlogsub_spark.pipeline import apply_batch

    flat = _events_as_flat_changes(spark, sf)
    img = F.struct("conv_id", "turn_idx", "role", "text", "tool", "ts")
    envelope = flat.select(
        "file_seq", "log_pos", "server_ts", "op", "db_name", "table_name",
        "schema_version",
        F.when(F.col("op") == "D", img).alias("before"),
        F.when(F.col("op") != "D", img).alias("after"),
    )
    tmp = tempfile.mkdtemp(prefix="binlogsub_rebucket_")
    table = LakeTable(spark, os.path.join(tmp, "tbl"), buckets=8)
    half = F.col("log_pos") % 2 == 0
    apply_batch(
        table, envelope.where(half), batch_id=1, cfg=EngineConfig(),
        persist_source=True,
    )
    table.rebucket(32)
    apply_batch(
        table, envelope.where(~half), batch_id=2, cfg=EngineConfig(),
        persist_source=True,
    )
    return table.read().select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        "role", "text", "tool", "ts",
    )


def q_cdc_mysql_pipeline_e2e(spark, sf):
    """The ENTIRE reference-equivalent path over genuine MySQL frames,
    value-checked by DuckDB: events-table-derived changes are packed into
    real binlog rows-events (epoch-split table maps 11/12 — the `tool`
    column arrives mid-stream via ALTER's new table_id), streamed through
    registry broadcast -> wave decode -> salted LWW -> COW MERGE, with a
    re-delivered suffix collapsing idempotently. Oracle: an independent
    SQL LWW replay of the same derivation (same as cdc_pipeline_e2e)."""
    from binlogsub_spark.config import EngineConfig
    from binlogsub_spark.lake.table import LakeTable
    from binlogsub_spark.mysql_binlog import encode_rows_df
    from binlogsub_spark.pipeline import apply_mysql_batch
    from binlogsub_spark.sources.generator import (
        ROLE_ENUM,
        TOOL_ENUM,
        transcripts_table_maps,
    )

    tmaps = transcripts_table_maps()
    flat = _events_as_flat_changes(spark, sf)
    enc_in = flat.select(
        "file_seq", "log_pos", "op",
        F.when(F.col("schema_version") <= 1, F.lit(11)).otherwise(F.lit(12)).alias("table_id"),
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.array_position(
            F.array(*[F.lit(r) for r in ROLE_ENUM]), F.col("role")
        ).cast("long").alias("role"),
        "text",
        F.when(
            F.col("tool").isNotNull(),
            F.array_position(F.array(*[F.lit(t) for t in TOOL_ENUM]), F.col("tool")),
        ).cast("long").alias("tool"),
        "ts",
    )
    enc_in = enc_in.unionByName(enc_in.where(F.col("log_pos") % 13 == 0))
    frames = encode_rows_df(
        enc_in, tmaps[12], rows_per_event=1, checksum=True,
        file_seq_col="file_seq", log_pos_col="log_pos",
        op_col="op", tmap_col="table_id", tmaps=tmaps,
    )
    name_map: dict = {}
    for tm in tmaps.values():
        name_map.setdefault((tm.db, tm.table), []).append(tm.columns)
    tmp = tempfile.mkdtemp(prefix="binlogsub_mysql_e2e_")
    table = LakeTable(spark, os.path.join(tmp, "tbl"), buckets=16)
    # frames are an in-flight mapInArrow encode: persisted by default
    apply_mysql_batch(table, frames, batch_id=1, cfg=EngineConfig(), name_map=name_map)
    return table.read().select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        "role", "text", "tool", "ts",
    )


def q_cdc_changelog_scan(spark, sf):
    """The CONSUMPTION side of CDC: LakeTable.changes emits the net I/U/D
    feed between two committed snapshots (Iceberg changelog-scan parity
    over the COW format; bucket-location diff prunes the read to touched
    buckets). Two micro-batches split deterministically by event id; the
    oracle replays LWW at both points in SQL and diffs the winners on the
    version triple."""
    from binlogsub_spark.config import EngineConfig
    from binlogsub_spark.lake.table import LakeTable
    from binlogsub_spark.pipeline import apply_batch

    flat = _events_as_flat_changes(spark, sf)
    img = F.struct("conv_id", "turn_idx", "role", "text", "tool", "ts")
    before = F.struct(
        "conv_id", "turn_idx", "role",
        F.concat(F.lit("prev|"), F.col("text")).alias("text"),
        F.lit(None).cast("string").alias("tool"), F.col("ts").alias("ts"),
    )
    envelope = flat.select(
        "file_seq", "log_pos", "server_ts", "op", "db_name", "table_name",
        "schema_version",
        F.when(F.col("op") != "I", before).alias("before"),
        F.when(F.col("op") != "D", img).alias("after"),
    )
    # event_id is reconstructible from the framing columns
    eid = F.col("file_seq") * 4096 + (F.col("log_pos") - 4) / 128
    b1 = envelope.where(eid % 3 != 0)
    b2 = envelope.where(eid % 3 == 0)
    tmp = tempfile.mkdtemp(prefix="binlogsub_changes_")
    table = LakeTable(spark, os.path.join(tmp, "tbl"), buckets=16)
    cfg = EngineConfig()
    apply_batch(table, b1, batch_id=1, cfg=cfg, persist_source=True)
    s1 = table.snapshot()["snapshot_id"]
    apply_batch(table, b2, batch_id=2, cfg=cfg, persist_source=True)
    return table.changes(s1).select(
        "change_op", "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "role", "text", "tool", "ts",
    )


def q_cdc_raw_decode(spark, sf):
    """Arrow byte-decode kernels (§2.6), now with a full DuckDB oracle:
    events-table-derived records are packed into the binary wire format
    and decoded back zero-copy; the oracle is the identity derivation —
    decode(encode(x)) == x checked value-by-value."""
    from binlogsub_spark.codec import decode_raw_events, encode_decoded_events

    flat = _events_as_flat_changes(spark, sf)
    decoded = decode_raw_events(encode_decoded_events(flat))
    return decoded.select(
        F.col("file_seq").cast("long").alias("file_seq"), "log_pos", "server_ts",
        "op", "db_name", "table_name",
        F.col("schema_version").cast("long").alias("schema_version"),
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        "role", "text", "tool", "ts",
    )


def q_cdc_debezium_decode(spark, sf):
    """Debezium-JSON source (sources/debezium.py), DuckDB-oracled as an
    identity round-trip: events-table-derived change records are encoded
    into the connector's published JSON envelope (MicroTimestamp images,
    ts_ms milliseconds, mysql-bin.NNNNNN file names, op c/u/d) and decoded
    back through from_json; the oracle is the same flat derivation with
    server_ts truncated to the millisecond ts_ms carries."""
    from binlogsub_spark.sources.debezium import (
        decode_debezium,
        envelope_to_debezium_json,
    )

    flat = _events_as_flat_changes(spark, sf)
    img = F.struct("conv_id", "turn_idx", "role", "text", "tool", "ts")
    envelope = flat.select(
        "file_seq", "log_pos", "server_ts", "op", "db_name", "table_name",
        "schema_version",
        F.when(F.col("op") == "D", img).alias("before"),
        F.when(F.col("op") != "D", img).alias("after"),
    )
    decoded = decode_debezium(envelope_to_debezium_json(envelope))
    key_img = F.when(F.col("op") == "D", F.col("before")).otherwise(
        F.col("after")
    )
    return decoded.select(
        F.col("file_seq").cast("long").alias("file_seq"),
        "log_pos",
        "server_ts",
        "op",
        "db_name",
        "table_name",
        key_img["conv_id"].alias("conv_id"),
        key_img["turn_idx"].cast("long").alias("turn_idx"),
        key_img["role"].alias("role"),
        key_img["text"].alias("text"),
        key_img["tool"].alias("tool"),
        key_img["ts"].alias("ts"),
    )


def q_cdc_canal_decode(spark, sf):
    """Canal-JSON (flatMessage) source (sources/canal.py), DuckDB-oracled
    as an identity round-trip: the same change derivation is encoded into
    canal's published flat shape (string-serialized data/old arrays, es
    epoch-ms, type INSERT/UPDATE/DELETE, out-of-band framing — the flat
    format carries no binlog position) and decoded back through
    from_json + posexplode; the oracle is the flat derivation with
    server_ts truncated to the millisecond `es` carries."""
    from binlogsub_spark.sources.canal import (
        decode_canal,
        envelope_to_canal_json,
    )

    flat = _events_as_flat_changes(spark, sf)
    img = F.struct("conv_id", "turn_idx", "role", "text", "tool", "ts")
    envelope = flat.select(
        "file_seq", "log_pos", "server_ts", "op", "db_name", "table_name",
        "schema_version",
        F.when(F.col("op") == "D", img).alias("before"),
        F.when(F.col("op") != "D", img).alias("after"),
    )
    decoded = decode_canal(envelope_to_canal_json(envelope))
    key_img = F.when(F.col("op") == "D", F.col("before")).otherwise(
        F.col("after")
    )
    return decoded.select(
        F.col("file_seq").cast("long").alias("file_seq"),
        "log_pos",
        "server_ts",
        "op",
        "db_name",
        "table_name",
        key_img["conv_id"].alias("conv_id"),
        key_img["turn_idx"].cast("long").alias("turn_idx"),
        key_img["role"].alias("role"),
        key_img["text"].alias("text"),
        key_img["tool"].alias("tool"),
        key_img["ts"].alias("ts"),
    )


def q_cdc_maxwell_decode(spark, sf):
    """Maxwell-JSON source (sources/maxwell.py), DuckDB-oracled as an
    identity round-trip: encoded into maxwell's published shape (typed
    values, epoch-SECOND ts, in-band position "mysql-bin.NNNNNN:pos",
    partial old image) and decoded back; the oracle truncates server_ts
    to the second maxwell's ts carries."""
    from binlogsub_spark.sources.maxwell import (
        decode_maxwell,
        envelope_to_maxwell_json,
    )

    flat = _events_as_flat_changes(spark, sf)
    img = F.struct("conv_id", "turn_idx", "role", "text", "tool", "ts")
    envelope = flat.select(
        "file_seq", "log_pos", "server_ts", "op", "db_name", "table_name",
        "schema_version",
        F.when(F.col("op") == "D", img).alias("before"),
        F.when(F.col("op") != "D", img).alias("after"),
    )
    decoded = decode_maxwell(envelope_to_maxwell_json(envelope))
    key_img = F.when(F.col("op") == "D", F.col("before")).otherwise(
        F.col("after")
    )
    return decoded.select(
        F.col("file_seq").cast("long").alias("file_seq"),
        "log_pos",
        "server_ts",
        "op",
        "db_name",
        "table_name",
        key_img["conv_id"].alias("conv_id"),
        key_img["turn_idx"].cast("long").alias("turn_idx"),
        key_img["role"].alias("role"),
        key_img["text"].alias("text"),
        key_img["tool"].alias("tool"),
        key_img["ts"].alias("ts"),
    )


def q_cdc_deadletter_demux(spark, sf):
    """S5 error/OK demux with reason codes, DuckDB-oracled: deterministic
    corruptions (truncation -> short_frame, op byte 9 -> bad_enum) route to
    the dead-letter branch; the oracle recomputes the per-(branch, reason)
    accounting from the same derivation."""
    from binlogsub_spark.codec import encode_decoded_events, split_deadletter

    raw = encode_decoded_events(_events_as_flat_changes(spark, sf))
    corrupted = raw.withColumn(
        "payload",
        F.when(F.col("log_pos") % 40 == 4, F.expr("substring(payload, 1, 20)"))
        .when(
            F.col("log_pos") % 40 == 12,
            F.expr("concat(substring(payload, 1, 20), X'09', substring(payload, 22))"),
        )
        .otherwise(F.col("payload")),
    )
    valid, dead = split_deadletter(corrupted)
    return (
        valid.select(F.lit("valid").alias("branch"), F.lit("ok").alias("reason"), "log_pos")
        .unionByName(
            dead.select(
                F.lit("dead_letter").alias("branch"),
                F.col("_reason").alias("reason"),
                "log_pos",
            )
        )
        .groupBy("branch", "reason")
        .agg(F.count("*").alias("n"), F.max("log_pos").alias("max_log_pos"))
    )


def q_cdc_incremental_view(spark, sf):
    """Incremental materialized-view maintenance, value-checked by DuckDB:
    the change stream MERGEs into the lake in two micro-batches, and
    after EACH batch the per-conversation stats view refreshes — the first
    refresh builds the view, the second advances it from the changelog
    delta only (dirty groups recomputed, vanished groups tombstoned —
    operators/ivm.py). The final view must equal a full GROUP BY over the
    final LWW state, which is exactly what the oracle computes — equality
    proves incremental == full recompute."""
    from binlogsub_spark.config import EngineConfig
    from binlogsub_spark.lake.table import LakeTable
    from binlogsub_spark.operators.ivm import IncrementalView
    from binlogsub_spark.pipeline import apply_batch

    flat = _events_as_flat_changes(spark, sf)
    img = F.struct("conv_id", "turn_idx", "role", "text", "tool", "ts")
    envelope = flat.select(
        "file_seq", "log_pos", "server_ts", "op", "db_name", "table_name",
        "schema_version",
        F.when(F.col("op") == "D", img).alias("before"),
        F.when(F.col("op") != "D", img).alias("after"),
    )
    tmp = tempfile.mkdtemp(prefix="binlogsub_ivm_")
    table = LakeTable(spark, os.path.join(tmp, "tbl"), buckets=16)
    view = IncrementalView(table, os.path.join(tmp, "view"))
    for i in range(2):
        apply_batch(
            table, envelope.where(F.col("log_pos") % 2 == i), batch_id=i + 1,
            cfg=EngineConfig(), persist_source=True,
        )
        view.refresh()
    return view.read().select(
        "conv_id", "n_turns", "max_turn_idx", "last_ts", "n_tool_turns",
        "total_chars",
    )


def q_cdc_snapshot_bootstrap(spark, sf):
    """Snapshot-then-stream cold start, value-checked by DuckDB: a
    consistent read of the lake as of a mid-stream binlog position is
    bulk-loaded with `bootstrap_from_snapshot` (rows stamped at the cut),
    then the tail — INCLUDING an at-least-once overlap of the cut file —
    MERGEs on top. The stamped-at-cut LWW argument says the result is
    identical to replaying the whole binlog, so the oracle is the plain
    full-replay LWW (same as cdc_pipeline_e2e's)."""
    from binlogsub_spark.config import EngineConfig
    from binlogsub_spark.lake.table import LakeTable
    from binlogsub_spark.pipeline import apply_batch, bootstrap_from_snapshot

    flat = _events_as_flat_changes(spark, sf)
    img = F.struct("conv_id", "turn_idx", "role", "text", "tool", "ts")
    envelope = flat.select(
        "file_seq", "log_pos", "server_ts", "op", "db_name", "table_name",
        "schema_version",
        F.when(F.col("op") == "D", img).alias("before"),
        F.when(F.col("op") != "D", img).alias("after"),
    ).persist()
    cut_fs = int(envelope.agg(F.max("file_seq")).first()[0]) // 2
    cut_lp = int(
        envelope.where(F.col("file_seq") == cut_fs).agg(F.max("log_pos")).first()[0]
    )
    at_or_below = (F.col("file_seq") < cut_fs) | (
        (F.col("file_seq") == cut_fs) & (F.col("log_pos") <= cut_lp)
    )
    tmp = tempfile.mkdtemp(prefix="binlogsub_boot_")
    pre = LakeTable(spark, os.path.join(tmp, "pre"), buckets=16)
    apply_batch(
        pre, envelope.where(at_or_below), batch_id=1, cfg=EngineConfig(),
        persist_source=True,
    )
    boot = LakeTable(spark, os.path.join(tmp, "boot"), buckets=16)
    bootstrap_from_snapshot(boot, pre.read(), cut_fs, cut_lp)
    # tail ⊇ everything above the cut, plus a redelivered overlap below it
    tail = envelope.where(~at_or_below).unionByName(
        envelope.where(F.col("file_seq") == cut_fs)
    )
    apply_batch(boot, tail, batch_id=0, cfg=EngineConfig(), persist_source=True)
    envelope.unpersist(blocking=False)
    return boot.read().select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        "role", "text", "tool", "ts",
    )


def q_cdc_multi_table_route(spark, sf):
    """One-subscriber-many-tables fan-out, value-checked by DuckDB: the
    envelope stream is routed by table_name into TWO lake tables in a
    single persisted source pass (`apply_batch_multi`); the result is the
    union of both tables' final states tagged by destination. The oracle
    replays LWW per (dest, conv_id, turn_idx) slice."""
    from binlogsub_spark.lake.table import LakeTable
    from binlogsub_spark.pipeline import apply_batch_multi

    flat = _events_as_flat_changes(spark, sf)
    img = F.struct("conv_id", "turn_idx", "role", "text", "tool", "ts")
    dest = F.when(
        F.col("log_pos") % 2 == 0, F.lit("transcripts")
    ).otherwise(F.lit("transcripts_audit"))
    envelope = flat.select(
        "file_seq", "log_pos", "server_ts", "op", "db_name",
        dest.alias("table_name"), "schema_version",
        F.when(F.col("op") == "D", img).alias("before"),
        F.when(F.col("op") != "D", img).alias("after"),
    )
    tmp = tempfile.mkdtemp(prefix="binlogsub_route_")
    dests = {
        "transcripts": LakeTable(spark, os.path.join(tmp, "t1"), buckets=16),
        "transcripts_audit": LakeTable(spark, os.path.join(tmp, "t2"), buckets=16),
    }
    apply_batch_multi(dests, envelope, batch_id=1)
    parts = [
        dests[n].read().select(
            F.lit(n).alias("dest"), "conv_id",
            F.col("turn_idx").cast("long").alias("turn_idx"),
            "role", "text", "tool", "ts",
        )
        for n in sorted(dests)
    ]
    return parts[0].unionByName(parts[1])


def _outbound_roundtrip(spark, sf, encode, decode):
    """Shared OUTBOUND CDC round-trip harness: the change stream MERGEs
    into a source lake table in two micro-batches; after each, the
    changelog (`changes(include_before=True)`) is encoded to the dialect
    under test, decoded back, and MERGE-applied to a mirror table — the
    subscriber path a downstream team would run. The mirror's final
    state must equal the full-replay LWW (same oracle as
    cdc_pipeline_e2e): equality proves encode->decode->apply loses
    nothing, including deletes (the D record carries the tombstone's
    version stamp)."""
    from binlogsub_spark.config import EngineConfig
    from binlogsub_spark.lake.table import LakeTable
    from binlogsub_spark.pipeline import apply_batch

    flat = _events_as_flat_changes(spark, sf)
    img = F.struct("conv_id", "turn_idx", "role", "text", "tool", "ts")
    envelope = flat.select(
        "file_seq", "log_pos", "server_ts", "op", "db_name", "table_name",
        "schema_version",
        F.when(F.col("op") == "D", img).alias("before"),
        F.when(F.col("op") != "D", img).alias("after"),
    )
    eid = F.col("file_seq") * 4096 + (F.col("log_pos") - 4) / 128
    tmp = tempfile.mkdtemp(prefix="binlogsub_outbound_")
    src = LakeTable(spark, os.path.join(tmp, "src"), buckets=16)
    cfg = EngineConfig()
    apply_batch(src, envelope.where(eid % 3 != 0), 1, cfg, persist_source=True)
    s1 = src.snapshot()["snapshot_id"]
    apply_batch(src, envelope.where(eid % 3 == 0), 2, cfg, persist_source=True)
    s2 = src.snapshot()["snapshot_id"]

    mirror = LakeTable(spark, os.path.join(tmp, "mirror"), buckets=16)
    for i, (lo, hi) in enumerate([(None, s1), (s1, s2)]):
        feed = encode(
            src.changes(lo, hi, include_before=True),
            db_name="test", table_name="transcripts",
        )
        apply_batch(mirror, decode(feed), i + 1, cfg, persist_source=True)
    return mirror.read().select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        "role", "text", "tool", "ts",
    )


def q_cdc_outbound_debezium(spark, sf):
    """Debezium-dialect OUTBOUND round trip (see _outbound_roundtrip)."""
    from binlogsub_spark.sources.debezium import (
        changes_to_debezium,
        decode_debezium,
    )

    return _outbound_roundtrip(
        spark, sf, changes_to_debezium,
        lambda feed: decode_debezium(feed.select("value")),
    )


def q_cdc_outbound_canal(spark, sf):
    """Canal-flatMessage OUTBOUND round trip: the flat format carries no
    binlog position, so the framing columns outside the JSON provide the
    LWW ordering (see _outbound_roundtrip)."""
    from binlogsub_spark.sources.canal import decode_canal
    from binlogsub_spark.sources.outbound import changes_to_canal

    return _outbound_roundtrip(spark, sf, changes_to_canal, decode_canal)


def q_cdc_outbound_maxwell(spark, sf):
    """Maxwell-record OUTBOUND round trip: binlog position rides in-band
    as position "mysql-bin.NNNNNN:pos" (see _outbound_roundtrip)."""
    from binlogsub_spark.sources.maxwell import decode_maxwell
    from binlogsub_spark.sources.outbound import changes_to_maxwell

    return _outbound_roundtrip(
        spark, sf, changes_to_maxwell,
        lambda feed: decode_maxwell(feed.select("value")),
    )


def q_cdc_txn_atomic_ingest(spark, sf):
    """Transaction-atomic micro-batches over genuine MySQL frames,
    value-checked by DuckDB: changes are framed with XID commit markers
    (one per three changes, plus a final commit per binlog file), and the
    stream is cut MID-TRANSACTION at each file's midpoint. With
    a stash_path the first batch defers every row past its file's
    last XID (stashing them instead of half-applying a transaction); the
    second batch unions the stash back in and the trailing commits land
    everything. The final table must equal the plain full-replay LWW —
    the oracle is cdc_pipeline_e2e's."""
    from binlogsub_spark.config import EngineConfig
    from binlogsub_spark.lake.table import LakeTable
    from binlogsub_spark.mysql_binlog import encode_rows_df, encode_xids_df
    from binlogsub_spark.pipeline import apply_mysql_batch
    from binlogsub_spark.sources.generator import (
        ROLE_ENUM,
        TOOL_ENUM,
        transcripts_table_maps,
    )

    tmaps = transcripts_table_maps()
    flat = _events_as_flat_changes(spark, sf)
    enc_in = flat.select(
        "file_seq", "log_pos", "op",
        F.when(F.col("schema_version") <= 1, F.lit(11)).otherwise(F.lit(12)).alias("table_id"),
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.array_position(
            F.array(*[F.lit(r) for r in ROLE_ENUM]), F.col("role")
        ).cast("long").alias("role"),
        "text",
        F.when(
            F.col("tool").isNotNull(),
            F.array_position(F.array(*[F.lit(t) for t in TOOL_ENUM]), F.col("tool")),
        ).cast("long").alias("tool"),
        "ts",
    )
    idx = ((F.col("log_pos") - 4) / 128).cast("long")  # in-file change index
    rows = encode_rows_df(
        enc_in, tmaps[12], rows_per_event=1, checksum=True,
        file_seq_col="file_seq", log_pos_col="log_pos",
        op_col="op", tmap_col="table_id", tmaps=tmaps,
    )
    # a commit marker after every third change + a final commit per file
    commits = enc_in.where(idx % 3 == 2).select(
        "file_seq", (F.col("log_pos") + 64).alias("log_pos"),
        idx.alias("xid"),
    )
    finals = enc_in.groupBy("file_seq").agg(
        (F.max("log_pos") + 96).alias("log_pos"),
        (F.max("log_pos") + 10_000_000).alias("xid"),
    )
    xid_frames = encode_xids_df(commits.unionByName(finals), checksum=True)
    frames = rows.unionByName(xid_frames)

    cut = 4 + 128 * 2048  # every file's midpoint — cuts transactions
    name_map: dict = {}
    for tm in tmaps.values():
        name_map.setdefault((tm.db, tm.table), []).append(tm.columns)
    tmp = tempfile.mkdtemp(prefix="binlogsub_txn_")
    table = LakeTable(spark, os.path.join(tmp, "tbl"), buckets=16)
    cache: dict = {}
    for i, part in enumerate(
        [frames.where(F.col("log_pos") <= cut), frames.where(F.col("log_pos") > cut)]
    ):
        apply_mysql_batch(
            table, part, batch_id=i + 1, cfg=EngineConfig(), name_map=name_map,
            registry_cache=cache,
            stash_path=os.path.join(tmp, "stash"), persist_source=True,
        )
    return table.read().select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        "role", "text", "tool", "ts",
    )


def q_corpus_span_dedup(spark, sf):
    """Span-level (line) boilerplate removal, value-checked by DuckDB:
    multi-line documents are constructed deterministically (every doc gets
    a shared footer line, every third doc a shared newsletter line, and a
    per-doc unique line), then `strip_duplicated_spans` removes every line
    occurring in >= 50 distinct docs and reassembles the rest in order.
    The oracle replays the identical explode/count/reassemble in SQL."""
    from binlogsub_spark.functions.lines import strip_duplicated_spans

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("\n"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit("subscribe to our newsletter")
            ).otherwise(
                F.concat(F.lit("unique tail "), F.col("doc_id").cast("string"))
            ),
            F.lit("\nall rights reserved"),
        ).alias("text"),
    )
    out = strip_duplicated_spans(docs, "text", "doc_id", min_docs=50)
    return out.select("doc_id", "text", "n_spans_removed")


def q_corpus_pack_sequences(spark, sf):
    """Deterministic sequence packing, value-checked by DuckDB: documents
    are hash-routed into 16 independent packing groups and greedily filled
    into 4096-token shards (running-sum placement, docs longer than a
    shard span shards). Shard ids/offsets are a pure function of
    (doc_id, n_chars), so the oracle replays the exact window arithmetic."""
    from binlogsub_spark.functions.packing import pack_sequences

    docs = _t(spark, sf, "documents").select("doc_id", "n_chars")
    out = pack_sequences(
        docs, "n_chars", "doc_id", budget=4096, n_groups=16, seed="pk1"
    )
    return out.select(
        "doc_id", "pack_group", "shard_id", "shard_offset", "n_shards_spanned"
    )


def q_corpus_sample_mix(spark, sf):
    """Deterministic stratified corpus sampling (training-data mixing
    weights): keep en fully, half of de, a quarter of es, no fr, 1/8 of
    everything else — membership is a pure md5-of-key function, so the
    oracle replays the identical selection with integer math."""
    from binlogsub_spark.functions.sampling import sample_mix

    docs = _t(spark, sf, "documents")
    out = sample_mix(
        docs, "lang",
        {"en": 1.0, "de": 0.5, "es": 0.25, "fr": 0.0},
        key_col="doc_id", seed="mix1", default_fraction=0.125,
    )
    return out.select("doc_id", "lang", "source")


def q_corpus_cap_per_source(spark, sf):
    """Per-source quota cap (stop one crawl host dominating the mix): at
    most 10 docs per source, chosen by deterministic hash order so the
    kept subset is reproducible and the oracle can replay the exact
    ROW_NUMBER ordering."""
    from binlogsub_spark.functions.sampling import cap_per_group

    docs = _t(spark, sf, "documents")
    return cap_per_group(
        docs, "source", max_rows=10, key_col="doc_id", seed="cap1"
    ).select("doc_id", "source")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: keyed LWW latest-state (the engine's core reduction) on
    sf0.001."""
    return q_cdc_lww_latest_state(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cdc_lww_latest_state": q_cdc_lww_latest_state,
        "cdc_event_type_dispatch": q_cdc_event_type_dispatch,
        "cdc_scope_filter": q_cdc_scope_filter,
        "cdc_column_projection": q_cdc_column_projection,
        "cdc_offset_frontier": q_cdc_offset_frontier,
        "cdc_schema_registry_join": q_cdc_schema_registry_join,
        "cdc_turn_ordering_window": q_cdc_turn_ordering_window,
        "cdc_applied_skipped_metrics": q_cdc_applied_skipped_metrics,
        "cdc_windowed_metrics": q_cdc_windowed_metrics,
        "cdc_session_windows": q_cdc_session_windows,
        "cdc_asof_join": q_cdc_asof_join,
        "cdc_props_json": q_cdc_props_json,
        "cdc_gtid_executed_set": q_cdc_gtid_executed_set,
        "cdc_gtid_replay_filter": q_cdc_gtid_replay_filter,
        "transcript_assemble": q_transcript_assemble,
        "transcript_windows": q_transcript_windows,
        "transcript_loss_spans": q_transcript_loss_spans,
        "cdc_pipeline_e2e": q_cdc_pipeline_e2e,
        "cdc_targeted_delete": q_cdc_targeted_delete,
        "cdc_backfill_column": q_cdc_backfill_column,
        "cdc_rebucket_e2e": q_cdc_rebucket_e2e,
        "cdc_incremental_view": q_cdc_incremental_view,
        "cdc_snapshot_bootstrap": q_cdc_snapshot_bootstrap,
        "cdc_multi_table_route": q_cdc_multi_table_route,
        "cdc_outbound_debezium": q_cdc_outbound_debezium,
        "cdc_outbound_canal": q_cdc_outbound_canal,
        "cdc_outbound_maxwell": q_cdc_outbound_maxwell,
        "cdc_txn_atomic_ingest": q_cdc_txn_atomic_ingest,
        "cdc_mysql_pipeline_e2e": q_cdc_mysql_pipeline_e2e,
        "cdc_mysql_row_decode": q_cdc_mysql_row_decode,
        "cdc_mysql_rows_v1": q_cdc_mysql_rows_v1,
        "cdc_mysql_type_matrix": q_cdc_mysql_type_matrix,
        "cdc_raw_decode": q_cdc_raw_decode,
        "cdc_debezium_decode": q_cdc_debezium_decode,
        "cdc_canal_decode": q_cdc_canal_decode,
        "cdc_maxwell_decode": q_cdc_maxwell_decode,
        "cdc_changelog_scan": q_cdc_changelog_scan,
        "cdc_deadletter_demux": q_cdc_deadletter_demux,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_incremental": q_dedup_incremental,
        "dedup_clusters": q_dedup_clusters,
        "dedup_simhash": q_dedup_simhash,
        "dedup_embedding_recall": q_dedup_embedding_recall,
        "similarity_cosine_topk": q_similarity_cosine_topk,
        "similarity_ann_arrow_topk": q_similarity_ann_arrow_topk,
        "similarity_lsh_recall": q_similarity_lsh_recall,
        "similarity_ivf_recall": q_similarity_ivf_recall,
        "similarity_embedding_pairs": q_similarity_embedding_pairs,
        "text_token_count": q_text_token_count,
        "text_quality_score": q_text_quality_score,
        "text_lang_id": q_text_lang_id,
        "text_fingerprint": q_text_fingerprint,
        "text_pii_scrub": q_text_pii_scrub,
        "text_decontaminate": q_text_decontaminate,
        "corpus_clean": q_corpus_clean,
        "corpus_sample_mix": q_corpus_sample_mix,
        "corpus_cap_per_source": q_corpus_cap_per_source,
        "corpus_span_dedup": q_corpus_span_dedup,
        "corpus_pack_sequences": q_corpus_pack_sequences,
        "multimodal_metadata": q_multimodal_metadata,
        "multimodal_resize": q_multimodal_resize,
        "multimodal_frame_sample": q_multimodal_frame_sample,
        "multimodal_decode_features": q_multimodal_decode_features,
        "multimodal_audio_features": q_multimodal_audio_features,
        "multimodal_audio_resample": q_multimodal_audio_resample,
    }


_NORM = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"


_MINHASH_PAIRS_SQL = f"""
            WITH docs AS (
              SELECT doc_id, str_split({_NORM}, ' ') AS words FROM documents
            ),
            sh AS (
              SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
              FROM docs, UNNEST(range(1, len(words) - 1)) AS t(i)
              WHERE len(words) >= 3
            ),
            hh AS (
              SELECT doc_id, shingle,
                     ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h1,
                     ('0x' || substr(md5(shingle || '#'), 1, 15))::BIGINT % 1000000007 AS h2
              FROM sh
            ),
            mins AS (
              SELECT doc_id, i, min((h1 + i * h2) % 2305843009213693951) AS m
              FROM hh CROSS JOIN (SELECT unnest(range(64)) AS i) ii
              GROUP BY doc_id, i
            ),
            bandkeys AS (
              SELECT doc_id, i // 4 AS band,
                     string_agg(m::VARCHAR, ',' ORDER BY i) AS bk
              FROM mins GROUP BY doc_id, i // 4
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bandkeys a JOIN bandkeys b
                ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
            ),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
              SELECT c.id_a, c.id_b, count(*) AS inter
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
              GROUP BY c.id_a, c.id_b
            )
            SELECT id_a, id_b,
                   round(inter / (sa.sz + sb.sz - inter), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE round(inter / (sa.sz + sb.sz - inter), 4) >= 0.05
        """


# incremental variant: odd doc_ids are "today's batch", even doc_ids the
# pre-existing corpus (whose band keys live in the persisted store) — cand
# pairs cross the parity boundary instead of ordering by id
_INCR_MINHASH_SQL = f"""
            WITH docs AS (
              SELECT doc_id, str_split({_NORM}, ' ') AS words FROM documents
            ),
            sh AS (
              SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
              FROM docs, UNNEST(range(1, len(words) - 1)) AS t(i)
              WHERE len(words) >= 3
            ),
            hh AS (
              SELECT doc_id, shingle,
                     ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h1,
                     ('0x' || substr(md5(shingle || '#'), 1, 15))::BIGINT % 1000000007 AS h2
              FROM sh
            ),
            mins AS (
              SELECT doc_id, i, min((h1 + i * h2) % 2305843009213693951) AS m
              FROM hh CROSS JOIN (SELECT unnest(range(64)) AS i) ii
              GROUP BY doc_id, i
            ),
            bandkeys AS (
              SELECT doc_id, i // 4 AS band,
                     string_agg(m::VARCHAR, ',' ORDER BY i) AS bk
              FROM mins GROUP BY doc_id, i // 4
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
              FROM bandkeys a JOIN bandkeys b
                ON a.band = b.band AND a.bk = b.bk
               AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
            ),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
              SELECT c.new_id, c.old_id, count(*) AS inter
              FROM cand c
              JOIN sh a ON a.doc_id = c.new_id
              JOIN sh b ON b.doc_id = c.old_id AND b.shingle = a.shingle
              GROUP BY c.new_id, c.old_id
            )
            SELECT new_id, old_id,
                   round(inter / (sa.sz + sb.sz - inter), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = new_id
            JOIN sizes sb ON sb.doc_id = old_id
            WHERE round(inter / (sa.sz + sb.sz - inter), 4) >= 0.05
        """


def oracle_sql() -> dict[str, str]:
    return {
        "cdc_lww_latest_state": """
            SELECT user_id, event_type, ts AS last_ts, event_id AS last_event_id,
                   round(value, 4) AS last_value
            FROM events
            QUALIFY row_number() OVER (
                PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1
        """,
        "cdc_event_type_dispatch": """
            SELECT event_type, count(*) AS n_events,
                   min(event_id) AS first_event_id, max(event_id) AS last_event_id
            FROM events GROUP BY event_type
        """,
        "cdc_scope_filter": """
            SELECT event_id, user_id, event_type FROM events
            WHERE regexp_matches(event_type, '^(click|purchase)$') AND user_id % 10 = 3
        """,
        "cdc_column_projection": """
            SELECT event_id, user_id, event_type, round(value, 4) AS value_r
            FROM events WHERE event_id % 20 = 0
        """,
        "cdc_offset_frontier": """
            SELECT user_id % 32 AS partition_id, max(event_id) AS frontier_event_id,
                   max(ts) AS frontier_ts, count(*) AS n_events
            FROM events GROUP BY user_id % 32
        """,
        "cdc_schema_registry_join": """
            SELECT c.c_nationkey AS nation_key, count(*) AS n_events,
                   count(DISTINCT e.user_id) AS n_users
            FROM events e JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY c.c_nationkey
        """,
        "cdc_turn_ordering_window": """
            SELECT event_id, user_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS turn_seq,
                   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event_type
            FROM events
        """,
        "cdc_applied_skipped_metrics": """
            SELECT event_type, count(*) AS n_events,
                   count(DISTINCT user_id) AS applied,
                   count(*) - count(DISTINCT user_id) AS skipped
            FROM events GROUP BY event_type
        """,
        "cdc_props_json": """
            SELECT event_type, count(*) AS n_events,
                   min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                   max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
            FROM events GROUP BY event_type
        """,
        # gaps-and-islands reference implementation of the GTID executed
        # set; the engine computes the same intervals join-first (no
        # window over the skewed uuid key)
        "cdc_gtid_executed_set": """
            WITH tx AS (
              SELECT CASE event_id % 3
                       WHEN 0 THEN '3e11fa47-71ca-11e1-9e33-c80aa9429562'
                       WHEN 1 THEN 'aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee'
                       ELSE '99999999-8888-7777-6666-555544443333'
                     END AS server_uuid,
                     event_id // 3 + 1 AS gno
              FROM events WHERE event_id % 97 <> 0
            ),
            d AS (SELECT DISTINCT server_uuid, gno FROM tx),
            r AS (
              SELECT server_uuid, gno,
                     gno - row_number() OVER (
                       PARTITION BY server_uuid ORDER BY gno) AS isl
              FROM d
            )
            SELECT server_uuid, min(gno) AS ivl_start, max(gno) AS ivl_end
            FROM r GROUP BY server_uuid, isl
        """,
        "cdc_gtid_replay_filter": """
            SELECT event_id,
                   CASE event_id % 3
                     WHEN 0 THEN '3e11fa47-71ca-11e1-9e33-c80aa9429562'
                     WHEN 1 THEN 'aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee'
                     ELSE '99999999-8888-7777-6666-555544443333'
                   END AS server_uuid,
                   event_id // 3 + 1 AS gno
            FROM events
            WHERE event_id % 97 <> 0 AND event_id % 2 = 1
        """,
        "transcript_assemble": """
            WITH t AS (
              SELECT 'conv-' || user_id AS conv_id,
                     row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS turn_idx,
                     event_type AS role, props AS text
              FROM events
            )
            SELECT conv_id,
                   count(*) AS n_turns,
                   max(turn_idx) AS last_turn_idx,
                   CAST(sum(length(text)) AS BIGINT) AS n_chars,
                   string_agg(role || ': ' || text, chr(10)
                              ORDER BY turn_idx) AS transcript
            FROM t GROUP BY conv_id
        """,
        "transcript_loss_spans": """
            WITH t AS (
              SELECT 'conv-' || user_id AS conv_id,
                     row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS turn_idx,
                     event_type AS role, props AS text
              FROM events
            ),
            c AS (
              SELECT conv_id, turn_idx, role,
                     length(role) + 2 AS role_len,
                     length(text) AS text_len,
                     sum(length(role) + 2 + length(text) + 1) OVER (
                       PARTITION BY conv_id ORDER BY turn_idx
                       ROWS UNBOUNDED PRECEDING
                     ) - (length(role) + 2 + length(text) + 1) AS prefix
              FROM t
            )
            SELECT conv_id, turn_idx, role,
                   prefix + role_len AS span_start,
                   prefix + role_len + text_len AS span_end,
                   role <> 'assistant' AS masked
            FROM c
        """,
        "transcript_windows": """
            WITH t AS (
              SELECT 'conv-' || user_id AS conv_id,
                     row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS turn_idx,
                     event_type AS role, props AS text
              FROM events
            ),
            n AS (SELECT conv_id, count(*) AS n FROM t GROUP BY conv_id),
            w AS (
              SELECT conv_id, i AS start, (i - 1) // 6 AS window_idx
              FROM n, UNNEST(generate_series(1, n, 6)) AS s(i)
              WHERE i + 2 <= n OR i = 1
            )
            SELECT w.conv_id, w.window_idx,
                   min(t.turn_idx) AS start_turn_idx,
                   max(t.turn_idx) AS end_turn_idx,
                   count(*) AS n_turns,
                   string_agg(t.role || ': ' || t.text, chr(10)
                              ORDER BY t.turn_idx) AS text
            FROM w JOIN t ON t.conv_id = w.conv_id
                         AND t.turn_idx BETWEEN w.start AND w.start + 7
            GROUP BY w.conv_id, w.window_idx
        """,
        "cdc_windowed_metrics": """
            SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
                   time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes'
                       AS window_end,
                   user_id, count(*) AS n_events,
                   count(DISTINCT event_type) AS n_types,
                   max(event_id) AS last_event_id
            FROM events
            GROUP BY 1, 2, 3
        """,
        # Spark session_window semantics (empirically pinned in
        # test_session_metrics_boundary_semantics): merge while
        # ts - prev <= gap (boundary-equal MERGES); end = last event + gap
        "cdc_session_windows": """
            WITH o AS (SELECT user_id, ts, event_id FROM events),
            m AS (
              SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                              OR ts - lag(ts) OVER w > INTERVAL '10 minutes'
                         THEN 1 ELSE 0 END AS brk
              FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            s AS (
              SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sess
              FROM m
            )
            SELECT user_id, min(ts) AS session_start,
                   max(ts) + INTERVAL '10 minutes' AS session_end,
                   count(*) AS n_events, max(event_id) AS last_event_id
            FROM s GROUP BY user_id, sess
        """,
        "cdc_asof_join": """
            WITH u AS (
              SELECT user_id, ts, event_id AS ord2, event_id,
                     NULL::BIGINT AS p_ev, 1 AS side
              FROM events WHERE event_type = 'click'
              UNION ALL
              SELECT user_id, ts, event_id, NULL, event_id, 0
              FROM events WHERE event_type = 'purchase'
            ),
            f AS (
              SELECT *, last_value(p_ev IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, ord2
                       ROWS UNBOUNDED PRECEDING) AS last_p
              FROM u
            )
            SELECT event_id, user_id, ts, last_p AS last_purchase_event_id
            FROM f WHERE side = 1
        """,
        "cdc_raw_decode": f"""
            SELECT CAST(file_seq AS BIGINT) AS file_seq, log_pos, server_ts, op,
                   db_name, table_name,
                   CAST(schema_version AS BIGINT) AS schema_version,
                   conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
                   role, text, tool, ts
            FROM ({_FLAT_CHANGES_SQL})
        """,
        "cdc_debezium_decode": f"""
            SELECT CAST(file_seq AS BIGINT) AS file_seq, log_pos,
                   make_timestamp(epoch_ms(server_ts) * 1000) AS server_ts,
                   op, db_name, table_name,
                   conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
                   role, text, tool, ts
            FROM ({_FLAT_CHANGES_SQL})
        """,
        # canal's es is epoch-ms like debezium's ts_ms -> same truncation
        "cdc_canal_decode": f"""
            SELECT CAST(file_seq AS BIGINT) AS file_seq, log_pos,
                   make_timestamp(epoch_ms(server_ts) * 1000) AS server_ts,
                   op, db_name, table_name,
                   conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
                   role, text, tool, ts
            FROM ({_FLAT_CHANGES_SQL})
        """,
        # maxwell's ts is epoch-SECONDS -> second truncation
        "cdc_maxwell_decode": f"""
            SELECT CAST(file_seq AS BIGINT) AS file_seq, log_pos,
                   date_trunc('second', server_ts) AS server_ts,
                   op, db_name, table_name,
                   conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
                   role, text, tool, ts
            FROM ({_FLAT_CHANGES_SQL})
        """,
        "cdc_pipeline_e2e": f"""
            WITH flat AS ({_FLAT_CHANGES_SQL}),
            w AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY ts DESC, file_seq DESC, log_pos DESC) AS rn
              FROM flat
            )
            SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
                   role, text, tool, ts
            FROM w WHERE rn = 1 AND op <> 'D'
        """,
        # the e2e replay minus the erased conversations — tombstones from
        # delete_keys must hide every turn of a doomed conv and nothing else
        "cdc_targeted_delete": f"""
            WITH flat AS ({_FLAT_CHANGES_SQL}),
            w AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY ts DESC, file_seq DESC, log_pos DESC) AS rn
              FROM flat
            )
            SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
                   role, text, tool, ts
            FROM w WHERE rn = 1 AND op <> 'D' AND conv_id NOT LIKE '%3'
        """,
        # the e2e replay plus the backfilled expression
        "cdc_backfill_column": f"""
            WITH flat AS ({_FLAT_CHANGES_SQL}),
            w AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY ts DESC, file_seq DESC, log_pos DESC) AS rn
              FROM flat
            )
            SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
                   role, text, tool, ts,
                   CAST(length(text) AS BIGINT) AS text_len
            FROM w WHERE rn = 1 AND op <> 'D'
        """,
        # the rescale is invisible: same LWW replay as cdc_pipeline_e2e
        "cdc_rebucket_e2e": f"""
            WITH flat AS ({_FLAT_CHANGES_SQL}),
            w AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY ts DESC, file_seq DESC, log_pos DESC) AS rn
              FROM flat
            )
            SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
                   role, text, tool, ts
            FROM w WHERE rn = 1 AND op <> 'D'
        """,
        "cdc_mysql_pipeline_e2e": f"""
            WITH flat AS ({_FLAT_CHANGES_SQL}),
            w AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY ts DESC, file_seq DESC, log_pos DESC) AS rn
              FROM flat
            )
            SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
                   role, text, tool, ts
            FROM w WHERE rn = 1 AND op <> 'D'
        """,
        # snapshot+tail converges to the full replay — same oracle as e2e
        "cdc_snapshot_bootstrap": f"""
            WITH flat AS ({_FLAT_CHANGES_SQL}),
            w AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY ts DESC, file_seq DESC, log_pos DESC) AS rn
              FROM flat
            )
            SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
                   role, text, tool, ts
            FROM w WHERE rn = 1 AND op <> 'D'
        """,
        # a mid-transaction batch cut must converge to the full replay —
        # same oracle as cdc_pipeline_e2e
        "cdc_txn_atomic_ingest": f"""
            WITH flat AS ({_FLAT_CHANGES_SQL}),
            w AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY ts DESC, file_seq DESC, log_pos DESC) AS rn
              FROM flat
            )
            SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
                   role, text, tool, ts
            FROM w WHERE rn = 1 AND op <> 'D'
        """,
        # the outbound feed must replay to the full-replay LWW state —
        # same oracle as cdc_pipeline_e2e
        "cdc_outbound_debezium": f"""
            WITH flat AS ({_FLAT_CHANGES_SQL}),
            w AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY ts DESC, file_seq DESC, log_pos DESC) AS rn
              FROM flat
            )
            SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
                   role, text, tool, ts
            FROM w WHERE rn = 1 AND op <> 'D'
        """,
        # canal/maxwell dialects must replay to the same state
        "cdc_outbound_canal": f"""
            WITH flat AS ({_FLAT_CHANGES_SQL}),
            w AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY ts DESC, file_seq DESC, log_pos DESC) AS rn
              FROM flat
            )
            SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
                   role, text, tool, ts
            FROM w WHERE rn = 1 AND op <> 'D'
        """,
        "cdc_outbound_maxwell": f"""
            WITH flat AS ({_FLAT_CHANGES_SQL}),
            w AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY ts DESC, file_seq DESC, log_pos DESC) AS rn
              FROM flat
            )
            SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
                   role, text, tool, ts
            FROM w WHERE rn = 1 AND op <> 'D'
        """,
        # per-destination LWW replay of the routed slices
        "cdc_multi_table_route": f"""
            WITH flat AS ({_FLAT_CHANGES_SQL}),
            tagged AS (
              SELECT *, CASE WHEN log_pos % 2 = 0 THEN 'transcripts'
                             ELSE 'transcripts_audit' END AS dest
              FROM flat
            ),
            w AS (
              SELECT *, row_number() OVER (
                PARTITION BY dest, conv_id, turn_idx
                ORDER BY ts DESC, file_seq DESC, log_pos DESC) AS rn
              FROM tagged
            )
            SELECT dest, conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
                   role, text, tool, ts
            FROM w WHERE rn = 1 AND op <> 'D'
        """,
        # the incremental view must equal a full GROUP BY over the final
        # LWW live state
        "cdc_incremental_view": f"""
            WITH flat AS ({_FLAT_CHANGES_SQL}),
            w AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY ts DESC, file_seq DESC, log_pos DESC) AS rn
              FROM flat
            ),
            live AS (
              SELECT conv_id, turn_idx, role, text, tool, ts
              FROM w WHERE rn = 1 AND op <> 'D'
            )
            SELECT conv_id,
                   COUNT(*) AS n_turns,
                   CAST(MAX(turn_idx) AS INT) AS max_turn_idx,
                   MAX(ts) AS last_ts,
                   COUNT(tool) AS n_tool_turns,
                   CAST(SUM(length(text)) AS BIGINT) AS total_chars
            FROM live GROUP BY conv_id
        """,
        "cdc_changelog_scan": f"""
            WITH flat AS ({_FLAT_CHANGES_SQL}),
            f2 AS (
              SELECT *, (file_seq * 4096 + (log_pos - 4) // 128) % 3 AS m
              FROM flat
            ),
            w1 AS (
              SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                ORDER BY ts DESC, file_seq DESC, log_pos DESC) rn
              FROM f2 WHERE m <> 0
            ),
            s1 AS (SELECT conv_id, turn_idx, role, text, tool, ts,
                          file_seq, log_pos
                   FROM w1 WHERE rn = 1 AND op <> 'D'),
            w2 AS (
              SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                ORDER BY ts DESC, file_seq DESC, log_pos DESC) rn
              FROM f2
            ),
            s2 AS (SELECT conv_id, turn_idx, role, text, tool, ts,
                          file_seq, log_pos
                   FROM w2 WHERE rn = 1 AND op <> 'D')
            SELECT CASE WHEN s1.ts IS NULL THEN 'I'
                        WHEN s2.ts IS NULL THEN 'D'
                        ELSE 'U' END AS change_op,
                   conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
                   CASE WHEN s2.ts IS NULL THEN s1.role ELSE s2.role END AS role,
                   CASE WHEN s2.ts IS NULL THEN s1.text ELSE s2.text END AS text,
                   CASE WHEN s2.ts IS NULL THEN s1.tool ELSE s2.tool END AS tool,
                   CASE WHEN s2.ts IS NULL THEN s1.ts ELSE s2.ts END AS ts
            FROM s1 FULL OUTER JOIN s2 USING (conv_id, turn_idx)
            WHERE s1.ts IS NULL OR s2.ts IS NULL
               OR s1.ts <> s2.ts OR s1.file_seq <> s2.file_seq
               OR s1.log_pos <> s2.log_pos
        """,
        "cdc_deadletter_demux": f"""
            WITH flat AS ({_FLAT_CHANGES_SQL}),
            b AS (
              SELECT log_pos,
                     CASE WHEN log_pos % 40 = 4 THEN 'short_frame'
                          WHEN log_pos % 40 = 12 THEN 'bad_enum'
                          ELSE 'ok' END AS reason
              FROM flat
            )
            SELECT CASE WHEN reason = 'ok' THEN 'valid' ELSE 'dead_letter' END AS branch,
                   reason, count(*) AS n, max(log_pos) AS max_log_pos
            FROM b GROUP BY 1, 2
        """,
        "cdc_mysql_row_decode": """
            SELECT 'I' AS op, event_id AS id, user_id, event_type AS etype,
                   CAST(CAST(round(value, 4) AS DECIMAL(18,4)) AS VARCHAR) AS score, ts,
                   CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 = 0
                        THEN NULL
                        ELSE CAST(json_extract_string(props, '$.k') AS BIGINT) % 100
                   END AS k,
                   props
            FROM events
        """,
        # v1 frames must decode to the SAME values as v2 — identical oracle
        "cdc_mysql_rows_v1": """
            SELECT 'I' AS op, event_id AS id, user_id, event_type AS etype,
                   CAST(CAST(round(value, 4) AS DECIMAL(18,4)) AS VARCHAR) AS score, ts,
                   CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 = 0
                        THEN NULL
                        ELSE CAST(json_extract_string(props, '$.k') AS BIGINT) % 100
                   END AS k,
                   props
            FROM events
        """,
        "cdc_mysql_type_matrix": """
            SELECT event_id AS id,
                   CASE WHEN event_id % 13 = 0 THEN NULL
                        ELSE CAST(CAST(ts AS DATE) AS VARCHAR) END AS d,
                   CASE WHEN user_id % 10 = 0 THEN NULL ELSE
                     CASE CAST(user_id % 8 AS INT)
                       WHEN 0 THEN '' WHEN 1 THEN 'alpha' WHEN 2 THEN 'beta'
                       WHEN 3 THEN 'alpha,beta' WHEN 4 THEN 'gamma'
                       WHEN 5 THEN 'alpha,gamma' WHEN 6 THEN 'beta,gamma'
                       ELSE 'alpha,beta,gamma' END END AS s,
                   event_id % 4096 AS b,
                   event_type AS c,
                   date_trunc('second', ts) AS t1,
                   date_trunc('second', ts) AS dt1,
                   (CASE WHEN user_id % 2 = 0 THEN 1 ELSE -1 END)
                     * ((user_id % 24) * 3600 + (event_id % 60) * 60
                        + (event_id % 7)) * 1000000 AS tm,
                   CAST(CAST(CONCAT(CAST(event_id AS VARCHAR),
                        '234567890.1234567891') AS DECIMAL(30,10)) AS VARCHAR) AS wd,
                   CASE WHEN event_id % 19 = 0 THEN NULL ELSE
                     (CASE WHEN user_id % 3 = 0 THEN '-' ELSE '' END)
                     || '9' || LPAD(CAST(event_id % 100000 AS VARCHAR), 5, '0')
                     || '2345678901234567890123456789012345'
                     || '.0987654321'
                   END AS wd50,
                   CASE WHEN event_id % 17 = 0 THEN NULL ELSE
                     '{"k":' || CAST(event_id % 1000 AS VARCHAR)
                     || ',"tag":"' || event_type
                     || '","ok":' || CASE WHEN user_id % 2 = 0 THEN 'true' ELSE 'false' END
                     || ',"ids":[' || CAST(user_id % 50 AS VARCHAR)
                     || ',' || CAST(event_id % 7 AS VARCHAR) || ']}'
                   END AS js
            FROM events
        """,
        "dedup_exact": f"""
            WITH fp AS (SELECT doc_id, md5({_NORM}) AS fp FROM documents),
            g AS (SELECT fp, min(doc_id) AS keeper_id, count(*) AS group_size
                  FROM fp GROUP BY fp)
            SELECT f.doc_id, f.fp, g.keeper_id, g.group_size,
                   f.doc_id <> g.keeper_id AS is_duplicate
            FROM fp f JOIN g USING (fp)
        """,
        "dedup_ngram_jaccard": f"""
            WITH docs AS (
              SELECT doc_id, str_split({_NORM}, ' ') AS words FROM documents
            ),
            sh AS (
              SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
              FROM docs, UNNEST(range(1, len(words) - 1)) AS t(i)
              WHERE len(words) >= 3
            ),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
            sh2 AS (SELECT sh.* FROM sh JOIN rare USING (shingle)),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT id_a, id_b,
                   round(inter / (sa.sz + sb.sz - inter), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE round(inter / (sa.sz + sb.sz - inter), 4) >= 0.05
        """,
        # md5-hash-family dedup oracles: the 60-bit hash is
        # ('0x'||substr(md5(x),1,15))::BIGINT — bit-identical to Spark's
        # conv(substring(md5(x),1,15),16,10) (parity pytest-asserted).
        "dedup_simhash": f"""
            WITH tok AS (
              SELECT doc_id, unnest(str_split({_NORM}, ' ')) AS tok FROM documents
            ),
            th AS (
              SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok
            ),
            bits AS (
              SELECT doc_id, b,
                     sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) bs
              GROUP BY doc_id, b
            ),
            sig AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
              FROM bits GROUP BY doc_id
            ),
            bands AS (
              SELECT doc_id, simhash, i AS band,
                     (simhash >> CAST(i * 15 AS BIGINT)) & 32767 AS bh
              FROM sig CROSS JOIN (SELECT unnest(range(4)) AS i) bi
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                              a.simhash AS sa, b.simhash AS sb
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
            )
            SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
            FROM cand WHERE bit_count(xor(sa, sb)) <= 3
        """,
        "dedup_minhash_lsh": _MINHASH_PAIRS_SQL,
        "dedup_incremental": _INCR_MINHASH_SQL,
        "dedup_clusters": f"""
            WITH RECURSIVE pairs AS (
{_MINHASH_PAIRS_SQL}
            ),
            edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            reach(src, dst) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
            ),
            lab AS (SELECT src AS doc_id, min(dst) AS cluster_id
                    FROM reach GROUP BY src),
            sizes AS (SELECT cluster_id, count(*) AS cluster_size
                      FROM lab GROUP BY cluster_id)
            SELECT l.doc_id, l.cluster_id, s.cluster_size,
                   l.doc_id = l.cluster_id AS is_canonical
            FROM lab l JOIN sizes s USING (cluster_id)
        """,
        "similarity_cosine_topk": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
            s AS (
              SELECT q.query_id, e.vec_id,
                     list_dot_product(q.qv, e.v)
                       / (sqrt(list_dot_product(q.qv, q.qv))
                          * sqrt(list_dot_product(e.v, e.v))) AS cos
              FROM q JOIN e ON e.vec_id <> q.query_id
            )
            SELECT query_id, vec_id, round(cos, 4) AS cosine, rank FROM (
              SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
              FROM s) WHERE rank <= 5
        """,
        # exact brute force in both engines: the Arrow path normalizes then
        # matmuls in float64; ranking ties are broken by vec_id, and the
        # 4-decimal rounding makes the remaining last-ulp differences
        # invisible (empirically bit-stable at the driver's sf).
        "similarity_ann_arrow_topk": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
            s AS (
              SELECT q.query_id, e.vec_id,
                     list_dot_product(q.qv, e.v)
                       / (sqrt(list_dot_product(q.qv, q.qv))
                          * sqrt(list_dot_product(e.v, e.v))) AS cos
              FROM q JOIN e ON e.vec_id <> q.query_id
            )
            SELECT query_id, vec_id, round(cos, 4) AS cosine, rank FROM (
              SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
              FROM s) WHERE rank <= 5
        """,
        "similarity_lsh_recall": """
            SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_exact,
                   TRUE AS recall_ok
            FROM embeddings WHERE vec_id < 20
        """,
        "similarity_ivf_recall": """
            SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_exact,
                   TRUE AS recall_ok
            FROM embeddings WHERE vec_id < 20
        """,
        "dedup_embedding_recall": """
            WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            pert AS (
              SELECT vec_id + 1000000 AS vec_id,
                     list_transform(v, (x, i) ->
                       x + 0.05 * sin(vec_id * 7 + (i - 1)) / 8.0) AS v
              FROM base
            ),
            corpus AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
            tp AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
              WHERE round(list_dot_product(a.v, b.v)
                          / (sqrt(list_dot_product(a.v, a.v))
                             * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.99
            )
            SELECT count(*) AS n_true, TRUE AS recall_ok FROM tp
        """,
        "similarity_embedding_pairs": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            a AS (SELECT vec_id AS id_a, v AS va FROM e WHERE vec_id % 10 = 0)
            SELECT id_a, e.vec_id AS id_b,
                   round(list_dot_product(a.va, e.v)
                         / (sqrt(list_dot_product(a.va, a.va))
                            * sqrt(list_dot_product(e.v, e.v))), 4) AS cosine
            FROM a JOIN e ON a.id_a < e.vec_id
            WHERE round(list_dot_product(a.va, e.v)
                        / (sqrt(list_dot_product(a.va, a.va))
                           * sqrt(list_dot_product(e.v, e.v))), 4) >= 0.2
        """,
        "text_token_count": f"""
            SELECT doc_id,
                   CASE WHEN length({_NORM}) = 0 THEN 0
                        ELSE len(str_split({_NORM}, ' ')) END AS n_tokens,
                   len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^\\sa-z0-9]')) AS n_pieces
            FROM documents
        """,
        "text_quality_score": f"""
            WITH b AS (
              SELECT doc_id,
                length(text) AS n_chars,
                CASE WHEN length({_NORM}) = 0 THEN 0
                     ELSE len(str_split({_NORM}, ' ')) END AS n_tokens,
                len(regexp_extract_all({_NORM},
                    '\\b(the|a|an|and|or|of|to|in|is|it)\\b')) AS n_stop,
                len(regexp_extract_all(text, '[.!?,;:]')) AS n_punct,
                len(regexp_extract_all(text, '[0-9]')) AS n_digit
              FROM documents
            )
            SELECT doc_id, n_chars, n_tokens,
                   round(n_stop / greatest(n_tokens, 1), 4) AS stop_ratio,
                   round(n_punct / greatest(n_chars, 1), 4) AS punct_ratio,
                   round(n_digit / greatest(n_chars, 1), 4) AS digit_ratio,
                   CAST(least(n_tokens, 100) * 4
                        + least(floor(n_stop * 1500 / greatest(n_tokens, 1)), 300)
                        + (300 - least(floor(n_digit * 3000 / greatest(n_chars, 1)), 300))
                        AS BIGINT) AS quality_score
            FROM b
        """,
        "text_lang_id": f"""
            WITH c AS (
              SELECT doc_id,
                len(regexp_extract_all({_NORM}, '\\b(the|a|of|and|is)\\b')) AS c_en,
                len(regexp_extract_all({_NORM}, '\\b(der|die|das|und|ist)\\b')) AS c_de,
                len(regexp_extract_all({_NORM}, '\\b(le|la|les|et|est)\\b')) AS c_fr,
                len(regexp_extract_all({_NORM}, '\\b(el|la|los|y|es)\\b')) AS c_es
              FROM documents
            )
            SELECT doc_id,
                   CASE WHEN greatest(c_en, c_de, c_fr, c_es) = 0 THEN 'und'
                        WHEN c_en = greatest(c_en, c_de, c_fr, c_es) THEN 'en'
                        WHEN c_de = greatest(c_en, c_de, c_fr, c_es) THEN 'de'
                        WHEN c_fr = greatest(c_en, c_de, c_fr, c_es) THEN 'fr'
                        ELSE 'es' END AS pred_lang
            FROM c
        """,
        "text_fingerprint": f"""
            SELECT doc_id, md5({_NORM}) AS fp FROM documents
        """,
        # the exact PII_RULES cascade (text.py): count on the progressively
        # masked text, then replace — order email -> ssn -> ipv4 -> phone
        "text_pii_scrub": r"""
            WITH inj AS (
              SELECT doc_id, text
                || CASE WHEN doc_id % 3 = 0 THEN ' contact user'
                     || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
                || CASE WHEN doc_id % 5 = 0 THEN ' ip 10.0.'
                     || CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END
                || CASE WHEN doc_id % 7 = 0 THEN ' call +1 555 01'
                     || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ELSE '' END
                || CASE WHEN doc_id % 11 = 0 THEN ' ssn 123-45-6789' ELSE '' END
                AS t0
              FROM documents
            ),
            s1 AS (
              SELECT doc_id,
                len(regexp_extract_all(t0,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS pii_email,
                regexp_replace(t0,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g') AS t1
              FROM inj
            ),
            s2 AS (
              SELECT doc_id, pii_email,
                len(regexp_extract_all(t1,
                  '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS pii_ssn,
                regexp_replace(t1, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b',
                  '<ID>', 'g') AS t2
              FROM s1
            ),
            s3 AS (
              SELECT doc_id, pii_email, pii_ssn,
                len(regexp_extract_all(t2,
                  '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS pii_ipv4,
                regexp_replace(t2, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b',
                  '<IP>', 'g') AS t3
              FROM s2
            ),
            s4 AS (
              SELECT doc_id, pii_email, pii_ssn, pii_ipv4,
                len(regexp_extract_all(t3,
                  '\+?[0-9][0-9()\- ]{7,}[0-9]')) AS pii_phone,
                regexp_replace(t3, '\+?[0-9][0-9()\- ]{7,}[0-9]',
                  '<PHONE>', 'g') AS t4
              FROM s3
            )
            SELECT doc_id, pii_email, pii_ssn, pii_ipv4, pii_phone,
                   md5(t4) AS scrub_fp
            FROM s4
        """,
        # word-5-gram overlap against the doc_id%17 'eval set'
        "text_decontaminate": f"""
            WITH docs AS (
              SELECT doc_id, str_split({_NORM}, ' ') AS words FROM documents
            ),
            sh AS (
              SELECT DISTINCT doc_id,
                     array_to_string(words[i:i+4], ' ') AS shingle
              FROM docs, UNNEST(range(1, len(words) - 3)) AS t(i)
              WHERE len(words) >= 5
            ),
            ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 = 0),
            per AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
            hits AS (
              SELECT s.doc_id, COUNT(*) AS n_cont
              FROM sh s JOIN ev USING (shingle) GROUP BY s.doc_id
            )
            SELECT d.doc_id,
                   COALESCE(per.n_shingles, 0) AS n_shingles,
                   COALESCE(hits.n_cont, 0) AS n_contaminated,
                   COALESCE(hits.n_cont, 0) > 0 AS contaminated
            FROM (SELECT DISTINCT doc_id FROM documents) d
            LEFT JOIN per USING (doc_id)
            LEFT JOIN hits USING (doc_id)
        """,
        "corpus_clean": f"""
            WITH fp AS (SELECT doc_id, md5({_NORM}) AS fp FROM documents),
            keepers AS (
              SELECT f.doc_id, f.fp FROM fp f
              JOIN (SELECT fp, min(doc_id) AS keeper_id FROM fp GROUP BY fp) g
                USING (fp)
              WHERE f.doc_id = g.keeper_id
            ),
            b AS (
              SELECT d.doc_id, k.fp, d.text,
                CASE WHEN length({_NORM}) = 0 THEN 0
                     ELSE len(str_split({_NORM}, ' ')) END AS n_tokens,
                len(regexp_extract_all({_NORM},
                    '\\b(the|a|an|and|or|of|to|in|is|it)\\b')) AS n_stop,
                len(regexp_extract_all(d.text, '[0-9]')) AS n_digit,
                length(d.text) AS n_chars,
                len(regexp_extract_all({_NORM}, '\\b(the|a|of|and|is)\\b')) AS c_en,
                len(regexp_extract_all({_NORM}, '\\b(der|die|das|und|ist)\\b')) AS c_de,
                len(regexp_extract_all({_NORM}, '\\b(le|la|les|et|est)\\b')) AS c_fr,
                len(regexp_extract_all({_NORM}, '\\b(el|la|los|y|es)\\b')) AS c_es
              FROM documents d JOIN keepers k USING (doc_id)
            ),
            s AS (
              SELECT doc_id, fp,
                CASE WHEN greatest(c_en, c_de, c_fr, c_es) = 0 THEN 'und'
                     WHEN c_en = greatest(c_en, c_de, c_fr, c_es) THEN 'en'
                     WHEN c_de = greatest(c_en, c_de, c_fr, c_es) THEN 'de'
                     WHEN c_fr = greatest(c_en, c_de, c_fr, c_es) THEN 'fr'
                     ELSE 'es' END AS lang,
                n_tokens,
                CAST(least(n_tokens, 100) * 4
                     + least(floor(n_stop * 1500 / greatest(n_tokens, 1)), 300)
                     + (300 - least(floor(n_digit * 3000 / greatest(n_chars, 1)), 300))
                     AS BIGINT) AS quality_score
              FROM b
            )
            SELECT doc_id, fp, lang, n_tokens, quality_score FROM s
            WHERE quality_score >= 500 AND lang = 'en' AND n_tokens >= 10
        """,
        # membership = md5-of-key integer math, replayed exactly; the
        # fractions are binary-exact floats so frac*1e6 has no rounding
        "corpus_sample_mix": """
            SELECT doc_id, lang, source FROM documents
            WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|mix1'),
                                  1, 15))::BIGINT % 1000000
                  < CAST((CASE lang WHEN 'en' THEN 1.0 WHEN 'de' THEN 0.5
                                    WHEN 'es' THEN 0.25 WHEN 'fr' THEN 0.0
                                    ELSE 0.125 END) * 1000000 AS BIGINT)
        """,
        "corpus_cap_per_source": """
            WITH r AS (
              SELECT doc_id, source, row_number() OVER (
                PARTITION BY source
                ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                          || '|cap1'), 1, 15))::BIGINT % 1000000, doc_id
              ) AS rn
              FROM documents
            )
            SELECT doc_id, source FROM r WHERE rn <= 10
        """,
        # explode -> distinct-doc frequency -> strip -> ordered reassembly,
        # replayed span-for-span (string_agg ignores the NULLed boiler
        # spans exactly like concat_ws skips them)
        "corpus_span_dedup": """
            WITH d AS (
              SELECT doc_id,
                     text || chr(10) ||
                     CASE WHEN doc_id % 3 = 0
                          THEN 'subscribe to our newsletter'
                          ELSE 'unique tail ' || CAST(doc_id AS VARCHAR)
                     END || chr(10) || 'all rights reserved' AS t
              FROM documents
            ),
            s AS (
              SELECT doc_id,
                     unnest(string_split(t, chr(10))) AS span,
                     generate_subscripts(string_split(t, chr(10)), 1) AS pos
              FROM d
            ),
            f AS (
              SELECT span FROM s GROUP BY span
              HAVING count(DISTINCT doc_id) >= 50
            ),
            k AS (
              SELECT s.doc_id, s.pos, s.span, f.span IS NOT NULL AS boiler
              FROM s LEFT JOIN f ON s.span = f.span
            )
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN NOT boiler THEN span END,
                                       chr(10) ORDER BY pos), '') AS text,
                   CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS INT)
                       AS n_spans_removed
            FROM k GROUP BY doc_id
        """,
        # md5 group routing + running-sum greedy fill, replayed with the
        # identical integer hash math and window frame
        "corpus_pack_sequences": """
            WITH g AS (
              SELECT doc_id,
                     greatest(CAST(n_chars AS BIGINT), 0) AS tok,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                          || '|pack|pk1'), 1, 15))::BIGINT % 16 AS INT)
                         AS pack_group,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                          || '|order|pk1'), 1, 15))::BIGINT % 1000000 AS ord
              FROM documents
            ),
            c AS (
              SELECT *,
                     CAST(sum(tok) OVER (
                       PARTITION BY pack_group ORDER BY ord, doc_id
                       ROWS UNBOUNDED PRECEDING) - tok AS BIGINT) AS cb
              FROM g
            )
            SELECT doc_id, pack_group,
                   cb // 4096 AS shard_id,
                   cb % 4096 AS shard_offset,
                   CAST(ceil((cb + greatest(tok, 1)) / 4096.0)
                        - cb // 4096 AS INT) AS n_shards_spanned
            FROM c
        """,
        # the stub codec derives (width, height, feature) deterministically
        # from the sha256 digest bytes — so even the "decode" is oracle-able:
        # digest byte i lives at hex chars (2i+1, 2i+2); f0 is the float32
        # mean of digest bytes {0, 8, 16, 24} / 255.
        "multimodal_decode_features": """
            WITH d AS (
              SELECT doc_id AS media_id, text, sha256(text) AS sha
              FROM documents
            ),
            img AS (  -- even ids: REAL images (header dims + channel
                      -- means); %4==0 -> P6 PPM, %4==2 -> 24-bit BMP
              SELECT media_id,
                     100 + media_id % 200 AS w, 60 + media_id % 150 AS h,
                     media_id % 256 AS r, (media_id * 7) % 256 AS g,
                     (media_id * 13) % 256 AS b
              FROM d WHERE media_id % 2 = 0
            ),
            stub AS (  -- odd ids: stub codec over the text bytes
              SELECT media_id, octet_length(encode(text)) AS n_bytes,
                     64 + ('0x' || substr(sha, 1, 2))::BIGINT % 192 AS w,
                     64 + ('0x' || substr(sha, 3, 2))::BIGINT % 192 AS h,
                     round(CAST(
                       ((('0x' || substr(sha, 1, 2))::BIGINT
                         + ('0x' || substr(sha, 17, 2))::BIGINT
                         + ('0x' || substr(sha, 33, 2))::BIGINT
                         + ('0x' || substr(sha, 49, 2))::BIGINT) / 4.0) / 255.0
                       AS FLOAT)::DOUBLE, 4) AS f0,
                     round(CAST(
                       ((('0x' || substr(sha, 3, 2))::BIGINT
                         + ('0x' || substr(sha, 19, 2))::BIGINT
                         + ('0x' || substr(sha, 35, 2))::BIGINT
                         + ('0x' || substr(sha, 51, 2))::BIGINT) / 4.0) / 255.0
                       AS FLOAT)::DOUBLE, 4) AS f1,
                     round(CAST(
                       ((('0x' || substr(sha, 5, 2))::BIGINT
                         + ('0x' || substr(sha, 21, 2))::BIGINT
                         + ('0x' || substr(sha, 37, 2))::BIGINT
                         + ('0x' || substr(sha, 53, 2))::BIGINT) / 4.0) / 255.0
                       AS FLOAT)::DOUBLE, 4) AS f2
              FROM d WHERE media_id % 2 = 1
            )
            SELECT media_id,
                   CASE WHEN media_id % 4 = 0  -- PPM: text header + raw RGB
                        THEN 9 + length(CAST(w AS VARCHAR))
                               + length(CAST(h AS VARCHAR)) + 3 * w * h
                        -- BMP: 54-byte headers + 4-byte-padded BGR rows
                        ELSE 54 + (3 * w + (4 - (3 * w) % 4) % 4) * h
                   END AS n_bytes,
                   w AS width, h AS height,
                   round(CAST((r / 255.0) AS FLOAT)::DOUBLE, 4) AS f0,
                   round(CAST((g / 255.0) AS FLOAT)::DOUBLE, 4) AS f1,
                   round(CAST((b / 255.0) AS FLOAT)::DOUBLE, 4) AS f2
            FROM img
            UNION ALL
            SELECT media_id, n_bytes, w AS width, h AS height, f0, f1, f2
            FROM stub
        """,
        "multimodal_resize": """
            WITH d AS (
              SELECT doc_id AS media_id, sha256(text) AS sha FROM documents
            ),
            img AS (  -- even ids: REAL decode+resample+re-encode
                      -- (%4==0 PPM, %4==2 BMP)
              SELECT media_id,
                     100 + media_id % 200 AS width,
                     60 + media_id % 150 AS height
              FROM d WHERE media_id % 2 = 0
            ),
            img2 AS (
              SELECT media_id, width, height,
                     CASE WHEN greatest(width, height) > 128
                          THEN (width * 128) // greatest(width, height)
                          ELSE width END AS new_width,
                     CASE WHEN greatest(width, height) > 128
                          THEN (height * 128) // greatest(width, height)
                          ELSE height END AS new_height,
                     greatest(width, height) > 128 AS resized
              FROM img
            ),
            stub AS (  -- odd ids: stub codec (digest-derived dims)
              SELECT media_id,
                     64 + ('0x' || substr(sha, 1, 2))::BIGINT % 192 AS width,
                     64 + ('0x' || substr(sha, 3, 2))::BIGINT % 192 AS height
              FROM d WHERE media_id % 2 = 1
            )
            SELECT media_id, 'image' AS kind, width, height,
                   new_width, new_height, resized,
                   -- true size of the SAME-container re-encode
                   CASE WHEN media_id % 4 = 0  -- P6: text header + 3*w*h
                        THEN 9 + length(CAST(new_width AS VARCHAR))
                               + length(CAST(new_height AS VARCHAR))
                               + 3 * new_width * new_height
                        -- BMP: 54 + padded-stride * h
                        ELSE 54 + (3 * new_width
                                   + (4 - (3 * new_width) % 4) % 4) * new_height
                   END AS new_n_bytes
            FROM img2
            UNION ALL
            SELECT media_id, 'image' AS kind, width, height,
                   CASE WHEN greatest(width, height) > 128
                        THEN (width * 128) // greatest(width, height)
                        ELSE width END AS new_width,
                   CASE WHEN greatest(width, height) > 128
                        THEN (height * 128) // greatest(width, height)
                        ELSE height END AS new_height,
                   greatest(width, height) > 128 AS resized,
                   CAST(NULL AS BIGINT) AS new_n_bytes
            FROM stub
        """,
        "multimodal_frame_sample": """
            WITH d AS (
              SELECT doc_id AS media_id, sha256(text) AS sha FROM documents
            ),
            nf AS (
              SELECT media_id, sha,
                     8 + ('0x' || substr(sha, 5, 2))::BIGINT % 120 AS n_frames
              FROM d
            )
            SELECT media_id, n_frames, i AS frame_idx,
                   round(CAST(
                     (('0x' || substr(sha, 2 * ((3 + i) % 32) + 1, 2))::BIGINT
                      / 255.0) AS FLOAT)::DOUBLE, 4) AS f0
            FROM nf, UNNEST(generate_series(0, n_frames - 1, 8)) AS t(i)
        """,
        "multimodal_metadata": """
            SELECT doc_id AS media_id, 'image' AS kind, 'image/stub' AS mime,
                   octet_length(encode(text)) AS n_bytes,
                   sha256(text) AS sha256
            FROM documents
        """,
        # even ids: REAL WAV decode — constant per-channel amplitudes make
        # RMS/peak closed-form (mono: a/32768 exactly; stereo:
        # sqrt((a^2+b^2)/2)/32768, bit-identical because every intermediate
        # is an exact dyadic double and IEEE sqrt is correctly rounded).
        # odd ids: the digest stub, replayed from sha256 hex.
        "multimodal_audio_features": """
            WITH d AS (
              SELECT doc_id AS media_id, text, sha256(text) AS sha
              FROM documents
            ),
            wav AS (
              SELECT media_id,
                     8000 + (media_id % 5) * 2000 AS rate,
                     CASE WHEN media_id % 4 = 0 THEN 1 ELSE 2 END AS ch,
                     400 + media_id % 600 AS n,
                     1 + 2 * ((media_id * 37) % 9999) AS a,
                     1 + 2 * ((media_id * 91) % 9999) AS b
              FROM d WHERE media_id % 2 = 0
            ),
            stub AS (
              SELECT media_id,
                     octet_length(encode(text)) AS n_bytes,
                     8000 + 100 * ('0x' || substr(sha, 1, 2))::BIGINT AS rate,
                     1 + ('0x' || substr(sha, 3, 2))::BIGINT % 2 AS ch,
                     1000 + ('0x' || substr(sha, 5, 2))::BIGINT * 37 AS n,
                     round(('0x' || substr(sha, 7, 2))::BIGINT / 255.0, 4) AS rms,
                     round(('0x' || substr(sha, 9, 2))::BIGINT / 255.0, 4) AS peak
              FROM d WHERE media_id % 2 = 1
            )
            SELECT media_id, 44 + n * ch * 2 AS n_bytes,
                   rate AS sample_rate, ch AS channels, n AS n_samples,
                   (n * 1000) // rate AS duration_ms,
                   CASE WHEN ch = 1 THEN round(a / 32768.0, 4)
                        ELSE round(sqrt((a * a + b * b) / 2.0) / 32768.0, 4)
                   END AS rms,
                   CASE WHEN ch = 1 THEN round(a / 32768.0, 4)
                        ELSE round(greatest(a, b) / 32768.0, 4)
                   END AS peak
            FROM wav
            UNION ALL
            SELECT media_id, n_bytes, rate AS sample_rate, ch AS channels,
                   n AS n_samples, (n * 1000) // rate AS duration_ms, rms, peak
            FROM stub
        """,
        "multimodal_audio_resample": """
            WITH d AS (
              SELECT doc_id AS media_id FROM documents
            ),
            wav AS (
              SELECT media_id,
                     8000 + (media_id % 5) * 2000 AS rate,
                     CASE WHEN media_id % 4 = 0 THEN 1 ELSE 2 END AS ch,
                     400 + media_id % 600 AS n
              FROM d WHERE media_id % 2 = 0
            ),
            conv AS (
              SELECT media_id, rate, ch, n,
                     rate <> 16000 AS resampled,
                     CASE WHEN rate <> 16000 THEN (n * 16000) // rate
                          ELSE n END AS new_n
              FROM wav
            )
            SELECT media_id, rate AS sample_rate,
                   16000 AS new_sample_rate, n AS n_samples,
                   new_n AS new_n_samples, resampled,
                   44 + new_n * ch * 2 AS new_n_bytes
            FROM conv
            UNION ALL
            SELECT media_id, CAST(NULL AS BIGINT) AS sample_rate,
                   CAST(NULL AS BIGINT) AS new_sample_rate,
                   CAST(NULL AS BIGINT) AS n_samples,
                   CAST(NULL AS BIGINT) AS new_n_samples,
                   CAST(NULL AS BOOLEAN) AS resampled,
                   CAST(NULL AS BIGINT) AS new_n_bytes
            FROM d WHERE media_id % 2 = 1
        """,
    }
