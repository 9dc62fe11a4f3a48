"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes relational surrogates of the crawl-scheduler
operators (SURVEY.md §2, §5.3 T6) plus the training-data pipeline
operators (ccrawler_spark.textops) over the driver's testdata tables;
``oracle_sql()`` gives the DuckDB twin of each. Column names/aliases
match pairwise so the driver's order-insensitive value-hash compares
cleanly. 30 queries, 30 with a DuckDB oracle (all value-checked since
round 7 — the trained-IVF twin loads the same persisted centroid JSON
the Spark query uses, and the crawl loop itself is gated end-to-end
against the pure-Python oracle's fetch log, see q_crawl_round_log): the
approximate operators (SRP-LSH ANN, embedding near-dup, simhash
banding) are deterministic — their hyperplanes, rings and bands are
literal-expressible — so the twin reproduces them exactly; semantic
quality (recall vs brute force) is additionally covered by pytest
(tests/test_textops.py).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ccrawler_spark.textops.hashing import phash60_py, phash60_sql

# deterministic ANN query vector, shared by Spark and SQL sides
EMB_DIM = 64
QUERY_VEC = [
    ((phash60_py(f"q|{d}") % 2001) - 1000) / 1000.0 for d in range(EMB_DIM)
]

STOP_SQL = "['the','a','of','and','to','in','is','on','for','with']"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, spread across cores: the testdata corpus is one
    parquet file (one input split), which would serialize the
    md5-per-shingle map stage of the hashing operators onto a single
    task. Real corpora arrive in thousands of splits — the round-robin
    repartition stands in for that and is not part of the operators
    themselves."""
    return _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings, spread across cores — same single-file rationale as
    ``_docs`` (the SRP bucket stage is 32 dot products per vector)."""
    return _t(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )


def _emb_parquet(sf_dir: str) -> str:
    """Canonical embeddings-parquet path — the trained-IVF centroid
    cache key. resolve() collapses trailing slashes / '.' segments so
    the Spark query side and the DuckDB oracle side derive the SAME
    cache file regardless of how the driver spells sf_dir."""
    import pathlib

    return str(pathlib.Path(sf_dir, "embeddings.parquet").resolve())


# the driver's correctness gate runs both sides at sf=0.01 (builder
# brief); the trained-centroid literals in oracle_sql() are bound to
# this table
ORACLE_SF_DIR = os.environ.get(
    "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
)  # env-overridable (ADVICE r7): if the driver ever gates at another
# sf, point this at it so the trained-centroid literals keep matching
# the Spark side's per-sf training


# --------------------------------------------------------------- queries
def q_topk_per_group(spark, sf_dir):
    """O26 surrogate: top-2 orders per customer (window top-k).

    The explicit-count repartition pins the window stage at cluster
    parallelism: the shuffle feeding a window over these testdata
    tables is small enough that AQE's size-based coalescing would fold
    the partition-sort onto 1-2 tasks (REPARTITION_BY_NUM is exempt),
    and hash partitioning on the window key satisfies the window's
    required clustering, so no second exchange appears. Results are
    partitioning-independent. Measured at sf1.0: 1.9 s → 0.7 s."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        _t(spark, sf_dir, "orders")
        .repartition(spark.sparkContext.defaultParallelism, "o_custkey")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def q_priority_dequeue(spark, sf_dir):
    """O31 surrogate: global budget top-100 by total priority order."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy("o_orderpriority", "o_orderdate", "o_orderkey")
        .limit(100)
        .select("o_orderkey", "o_orderpriority", "o_orderdate")
    )


def q_anti_join_dedup(spark, sf_dir):
    """O12 surrogate (seen-set anti-join): drop each user's first-seen
    event id — exactly the frontier-candidate ∖ seen shape."""
    ev = _t(spark, sf_dir, "events")
    seen = ev.groupBy("user_id").agg(F.min("event_id").alias("event_id"))
    return (
        ev.join(seen.select("event_id"), on="event_id", how="left_anti")
        .select("event_id", "user_id", "event_type")
    )


def q_window_lag(spark, sf_dir):
    """O27 surrogate: politeness-style gap to previous event per user."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # explicit-count repartition: see q_topk_per_group (AQE would
    # coalesce the window stage to ~1 task at testdata scale)
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "user_id"
    )
    # events.ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP (session UTC)
    ts = F.col("ts").cast("timestamp")
    gap = (F.unix_micros(ts) - F.unix_micros(F.lag(ts).over(w))) / 1e6
    return ev.select(
        "event_id", "user_id", F.round(gap, 6).alias("gap_s")
    )


def q_rollup_metrics(spark, sf_dir):
    """O25 surrogate: lineage metrics rollup."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.count("*").alias("cnt"),
        )
    )


def q_hot_key_detection(spark, sf_dir):
    """O24 surrogate: hot keys above a fixed threshold."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 75)
    )


def q_asof_latest(spark, sf_dir):
    """O14 surrogate: latest event per user (as-of max version)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    # explicit-count repartition: see q_topk_per_group
    return (
        _t(spark, sf_dir, "events")
        .repartition(spark.sparkContext.defaultParallelism, "user_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
    )


def q_set_union(spark, sf_dir):
    """O33/O34 surrogate: distinct union of two key sets."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id")
    b = ev.filter(F.col("event_type") == "view").select("user_id")
    return a.union(b).distinct()


def q_broadcast_dim_join(spark, sf_dir):
    """O13/O15 surrogate: fact ⋈ broadcast dims, grouped."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def q_bucket_histogram(spark, sf_dir):
    """O8/O20 surrogate: partition-bucket histogram."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(F.pmod(F.col("o_orderkey"), F.lit(64)).alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )


# ----------------------------------------------------- training-data ops
def q_dedup_exact(spark, sf_dir):
    from ccrawler_spark.textops.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def q_minhash_signatures(spark, sf_dir):
    from ccrawler_spark.textops.dedup import minhash_signatures

    sigs = minhash_signatures(_docs(spark, sf_dir))
    return sigs.select(
        "doc_id", *[F.col("sig")[i].alias(f"sig_{i}") for i in range(16)]
    )


def q_lsh_candidate_pairs(spark, sf_dir):
    from ccrawler_spark.textops.dedup import lsh_candidate_pairs

    return lsh_candidate_pairs(_docs(spark, sf_dir))


def q_ngram_jaccard_pairs(spark, sf_dir):
    from ccrawler_spark.textops.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.1)


def q_simhash(spark, sf_dir):
    from ccrawler_spark.textops.dedup import simhash64

    return simhash64(_docs(spark, sf_dir))


def q_token_stats(spark, sf_dir):
    from ccrawler_spark.textops.textstats import token_stats

    # _docs (round 8): the per-token counting now crosses into Arrow
    # (textstats docstring), so like the other Arrow ops the one-file
    # testdata corpus needs spreading before the batch pass
    return token_stats(_docs(spark, sf_dir))


def q_quality_score(spark, sf_dir):
    from ccrawler_spark.textops.textstats import quality_score

    return quality_score(_docs(spark, sf_dir))  # _docs: see q_token_stats


def q_lang_id(spark, sf_dir):
    from ccrawler_spark.textops.textstats import lang_id

    return lang_id(_docs(spark, sf_dir))  # _docs: see q_token_stats


def q_fingerprint(spark, sf_dir):
    from ccrawler_spark.textops.textstats import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def q_ann_cosine_topk(spark, sf_dir):
    from ccrawler_spark.textops.similarity import ann_topk_bruteforce

    return ann_topk_bruteforce(
        _t(spark, sf_dir, "embeddings"), QUERY_VEC, k=10
    )


def q_ann_cosine_topk_lsh(spark, sf_dir):
    """Approximate ANN (SRP bucket ring) — no SQL oracle; exactness vs
    brute force is asserted in tests/test_textops.py."""
    from ccrawler_spark.textops.similarity import ann_topk_lsh

    return ann_topk_lsh(_t(spark, sf_dir, "embeddings"), QUERY_VEC, k=10)


def q_ann_cosine_topk_ivf(spark, sf_dir):
    """IVF-flat ANN (hash-derived coarse centroids, n_probe cells)."""
    from ccrawler_spark.textops.similarity import ann_topk_ivf

    return ann_topk_ivf(
        _t(spark, sf_dir, "embeddings"), QUERY_VEC, k=10,
        n_cells=64, n_probe=8,
    )


def q_training_corpus_select(spark, sf_dir):
    """End-to-end training-set selection — the composed pipeline a
    100 TB pretraining-data job actually runs: exact-dedup survivors
    (one per text hash) that pass a quality threshold and a language
    gate, as ONE declarative plan (dedup aggregate + two scalar-codegen
    joins; Catalyst pipelines the scans, nothing materializes between
    stages). Exercises operator COMPOSITION, not just each operator
    alone — the DuckDB twin composes the same three oracle bodies as
    CTEs, so the gate value-checks the join semantics too."""
    from ccrawler_spark.textops.dedup import exact_dedup
    from ccrawler_spark.textops.textstats import lang_id, quality_score

    docs = _docs(spark, sf_dir)
    surv = exact_dedup(docs).select("doc_id", "dup_count")
    q = quality_score(docs).select("doc_id", "quality")
    lg = lang_id(docs).select("doc_id", "lang_pred")
    return (
        surv.join(q, "doc_id").join(lg, "doc_id")
        .filter((F.col("quality") >= 0.7) & (F.col("lang_pred") == "en"))
        .select("doc_id", "dup_count", "quality", "lang_pred")
    )


def q_ann_cosine_topk_ivf_trained(spark, sf_dir):
    """IVF-flat ANN with Lloyd-trained (spherical k-means) centroids,
    value-hash-checked since round 7: the centroids are a PERSISTED dim
    table (ivf_train_kmeans_cached — training runs once per fixture,
    every query reuses it, the warehouse shape per VERDICT r4 #3), so
    the DuckDB twin needs no SQL k-means — it loads the same persisted
    JSON (ivf_trained_centroids_ensure trains it numpy-side if the
    oracle runs first; first writer wins, both sides read identical
    floats) and inlines the centroids as literals, exactly like the
    untrained-IVF gate. Training QUALITY (recall ≥ hash baseline) stays
    pinned in tests/test_textops.py."""
    from ccrawler_spark.textops.similarity import (
        ann_topk_ivf, ivf_train_kmeans_cached,
    )

    emb = _embs(spark, sf_dir)
    cents = ivf_train_kmeans_cached(
        emb, cache_key=_emb_parquet(sf_dir),
        dim=EMB_DIM, n_cells=64, n_iters=2,
    )
    return ann_topk_ivf(
        emb, QUERY_VEC, k=10, n_cells=64, n_probe=8, centroids=cents
    )


def q_embedding_near_dup(spark, sf_dir):
    """SRP-bucketed cosine near-dup pairs — value-hash-checked: the
    hyperplanes, OR-amplified tables, and the SRP_BUCKET_CAP pruning
    are deterministic and literal-expressible, so the DuckDB twin
    reproduces the pair set exactly."""
    from ccrawler_spark.textops.similarity import embedding_near_dup_pairs

    # n_planes=10: 1024 buckets/table suits the ~10^3-10^4-vector
    # testdata scale (see operator docstring for the sizing rule)
    return embedding_near_dup_pairs(
        _embs(spark, sf_dir), dim=EMB_DIM, threshold=0.4, n_planes=10
    )


def q_simhash_near_pairs(spark, sf_dir):
    """Banded simhash near-dups — value-hash-checked: the band split,
    identical-fingerprint collapse and BAND_CAP are deterministic, so
    the DuckDB twin reproduces the pair set exactly."""
    from ccrawler_spark.textops.dedup import simhash_near_pairs

    return simhash_near_pairs(_docs(spark, sf_dir), max_hamming=10)


def q_phash_near_pairs(spark, sf_dir):
    """O18 banded Hamming near-dup over a 60-bit fingerprint column.

    The sf documents have no exact/near duplicate fingerprints (hash
    noise alone almost never shares a 16-bit band AND passes the
    Hamming filter), so the pool plants one: each doc's fingerprint
    plus a 2-bit-mutated twin (id + 100000, phash ^ 3). Every twin
    pair shares 3 of 4 bands with Hamming 2 — the banded join, the
    exact bit_count check and the bucket cap are all exercised and
    value-checked against the identical DuckDB construction."""
    from ccrawler_spark.textops.dedup import phash_near_pairs
    from ccrawler_spark.textops.hashing import phash60

    base = _docs(spark, sf_dir).select(
        "doc_id", phash60(F.col("text")).alias("phash")
    )
    mutated = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.col("phash").bitwiseXOR(F.lit(3)).alias("phash"),
    )
    return phash_near_pairs(
        base.unionByName(mutated), id_col="doc_id", phash_col="phash",
        max_hamming=6,
    )


def q_phash_near_pairs_star(spark, sf_dir):
    """``exact_pairs='star'`` bounded-cluster mode of O18 (VERDICT r5
    optional #7 — was pytest-only): same planted near-dup twins as
    ``phash_near_pairs``, plus THREE exact copies of every base
    fingerprint (ids +200000/+300000), making size-3 identical-
    fingerprint clusters where star's O(m) representative edges
    (min-member ↔ other) genuinely differ from all-pairs O(m²) — a
    size-2 cluster would emit the same single edge either way. The
    DuckDB twin derives the same min-member stars, value-checking the
    mode's semantics, not just its row count."""
    from ccrawler_spark.textops.dedup import phash_near_pairs
    from ccrawler_spark.textops.hashing import phash60

    base = _docs(spark, sf_dir).select(
        "doc_id", phash60(F.col("text")).alias("phash")
    )
    mutated = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.col("phash").bitwiseXOR(F.lit(3)).alias("phash"),
    )
    copies = [
        base.select((F.col("doc_id") + k).alias("doc_id"), "phash")
        for k in (200000, 300000)
    ]
    pool = base.unionByName(mutated)
    for c in copies:
        pool = pool.unionByName(c)
    return phash_near_pairs(
        pool, id_col="doc_id", phash_col="phash", max_hamming=6,
        exact_pairs="star",
    )


def _pruned_read_schedule() -> dict[str, set]:
    """Deterministic fixed schedule for the pruned-read gate (pure
    Python — both the Spark query and the DuckDB oracle derive the
    same sets): the first min(pages, 25) pages of every 3rd tiny-
    fixture host, as the (host → its ids) pairing the engine's arrow
    plan pushes (host-scoped row-group admission, r6)."""
    from ccrawler_spark.fixtures import corpus as corpus_mod
    from ccrawler_spark.fixtures.gen import (
        SIZES, host_name, page_allocation,
    )

    H, U, _, _ = SIZES["tiny"]
    pages = page_allocation(H, U)
    sched: dict[str, set] = {}
    for i in range(0, H, 3):
        h = host_name(i)
        sched[h] = {
            corpus_mod.image_id(f"http://{h}/p/{j}")
            for j in range(min(int(pages[i]), 25))
        }
    return sched


def q_pruned_corpus_read(spark, sf_dir):
    """Value-gates the corpus layout's pruned fetch read end-to-end
    (VERDICT r5 #3): reads the tiny fixture corpus through the r6
    set-based arrow scan (host_key row-group skipping + image_id
    hash-set filter — io/arrow_scan) with a fixed deterministic
    schedule. The DuckDB twin scans the FLAT fixture corpus parquet
    with the same image_id predicate: equality proves the layout +
    pruned path neither drops a scheduled row nor admits an extra one.
    Runs on the layout fixture (not the sf tables — the layout IS the
    structure under test), so ``sf_dir`` is unused."""
    from ccrawler_spark.fixtures.gen import (
        ensure_corpus_layout, ensure_fixtures,
    )
    from ccrawler_spark.io.arrow_scan import pruned_corpus_arrow

    fdir = ensure_fixtures("tiny")
    layout = str(ensure_corpus_layout(spark, fdir))
    return pruned_corpus_arrow(
        spark, layout, host_ids=_pruned_read_schedule()
    ).select(
        "image_id", "w", "h", "fmt", "phash",
        F.length("bytes").cast("long").alias("bytes_len"), "caption",
    )


def q_crawl_round_log(spark, sf_dir):
    """30th gate (VERDICT r6 optional #8): TWO full crawl-scheduler
    rounds of the REAL engine — bootstrap, dequeue, robots gate,
    politeness slots, fetch join, seen/frontier commit — over the
    deterministic tiny fixture, returning the committed fetch log's
    ordering surface (round, seq, url, host, slot_ms). The DuckDB twin
    reads the pure-Python oracle's fetch log (recomputed fresh inside
    ``oracle_sql()`` — pure Python, no Spark, same fixture), so the
    core loop's EXACT ordering + dedup parity becomes visible in the
    driver's own harness rather than pytest only. Virtual clock ⇒
    byte-identical across invocations. ``sf_dir`` unused (same pattern
    as pruned_corpus_read: the scheduler fixture IS the unit under
    test). Deliberately not in bench.py's HEADLINE — bench times the
    crawl round under its own median-of-3 protocol already."""
    import shutil

    from ccrawler_spark import testing as tt
    from ccrawler_spark.fixtures.gen import FIXTURE_ROOT

    # one store path per process, recreated per call: a repeat call
    # reuses it (a mkdtemp per call leaked a full 2-round engine store
    # each time, ADVICE r7) and concurrent gate processes cannot delete
    # each other's live store
    out = FIXTURE_ROOT / f"gate-crawl-store-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    _, store, _ = tt.engine_run(spark, "tiny", str(out), rounds=2)
    return store.read_fetch_log(2).select(
        "round", "seq", "url", "host", "slot_ms"
    )


def _oracle_crawl_log_parquet(rounds: int = 2) -> str:
    """The pure-Python oracle's fetch log for the tiny fixture,
    persisted as parquet for the DuckDB side of q_crawl_round_log.
    Recomputed (and atomically rewritten) on every call — the oracle
    run is sub-second pure Python, and never caching means a stale
    expectation can't survive an engine-semantics change."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ccrawler_spark import testing as tt
    from ccrawler_spark.fixtures.gen import FIXTURE_ROOT

    res = tt.oracle_run("tiny", rounds=rounds)
    tbl = pa.table({
        "round": pa.array([f.round for f in res.fetch_log], pa.int32()),
        "seq": pa.array([f.seq for f in res.fetch_log], pa.int64()),
        "url": pa.array([f.url for f in res.fetch_log], pa.string()),
        "host": pa.array([f.host for f in res.fetch_log], pa.string()),
        "slot_ms": pa.array([f.slot_ms for f in res.fetch_log], pa.int64()),
    })
    out = FIXTURE_ROOT / "oracle" / f"crawl_log_tiny_r{rounds}.parquet"
    out.parent.mkdir(parents=True, exist_ok=True)
    tmp = out.with_suffix(".tmp.parquet")
    pq.write_table(tbl, tmp)
    tmp.replace(out)
    return str(out)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: priority-dequeue surrogate (the scheduler's O26 heart)
    on sf0.001."""
    return q_topk_per_group(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "topk_per_group": q_topk_per_group,
        "priority_dequeue": q_priority_dequeue,
        "anti_join_dedup": q_anti_join_dedup,
        "window_lag": q_window_lag,
        "rollup_metrics": q_rollup_metrics,
        "hot_key_detection": q_hot_key_detection,
        "asof_latest": q_asof_latest,
        "set_union": q_set_union,
        "broadcast_dim_join": q_broadcast_dim_join,
        "bucket_histogram": q_bucket_histogram,
        "dedup_exact": q_dedup_exact,
        "minhash_signatures": q_minhash_signatures,
        "lsh_candidate_pairs": q_lsh_candidate_pairs,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "simhash": q_simhash,
        "token_stats": q_token_stats,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "training_corpus_select": q_training_corpus_select,
        "fingerprint": q_fingerprint,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_cosine_topk_lsh": q_ann_cosine_topk_lsh,
        "ann_cosine_topk_ivf": q_ann_cosine_topk_ivf,
        "ann_cosine_topk_ivf_trained": q_ann_cosine_topk_ivf_trained,
        "embedding_near_dup": q_embedding_near_dup,
        "simhash_near_pairs": q_simhash_near_pairs,
        "phash_near_pairs": q_phash_near_pairs,
        "phash_near_pairs_star": q_phash_near_pairs_star,
        "pruned_corpus_read": q_pruned_corpus_read,
        "crawl_round_log": q_crawl_round_log,
    }


# ------------------------------------------------------------ oracle SQL
def _h(expr: str) -> str:
    return phash60_sql(expr)


_TOKENS = "regexp_split_to_array(trim(text), '\\s+')"


def _shingles(k: int = 3) -> str:
    """DuckDB word-k-shingles (distinct), matching textops.word_shingles."""
    mk = " || ' ' || ".join(f"w[i+{j}]" for j in range(k))
    return (
        f"(SELECT list_distinct(CASE WHEN len(w) >= {k} THEN "
        f"list_transform(range(1, len(w) - {k} + 2), i -> {mk}) "
        f"ELSE [w[1]] END) FROM (SELECT {_TOKENS} w))"
    )


def _plane_sql(plane: list[float]) -> str:
    """DuckDB literal for one SRP hyperplane dot product against the
    embedding column (float32 parquet values promote exactly to double
    on both engines; summation is sequential on both)."""
    lits = ", ".join(repr(x) for x in plane)
    return f"list_dot_product(CAST(embedding AS DOUBLE[]), [{lits}])"


def _srp_bucket_sql(dim: int, n_planes: int, table: int) -> str:
    """Same bucket id as similarity.lsh_bucket_col for one table."""
    from ccrawler_spark.textops.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, table)
    return "(" + " + ".join(
        f"CASE WHEN {_plane_sql(p)} > 0 THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    ) + ")"


def oracle_sql() -> dict[str, str]:
    from ccrawler_spark.textops.dedup import MINHASH_M, minhash_mix_params

    h0 = f"({_h('s')} % {MINHASH_M})"
    minhash_cols = ", ".join(
        "list_min(list_transform(sh, s -> ({a} * {h0} + {b}) % {m})) AS sig_{i}".format(
            a=minhash_mix_params(i)[0], b=minhash_mix_params(i)[1],
            h0=h0, m=MINHASH_M, i=i,
        )
        for i in range(16)
    )
    q = ", ".join(f"CAST({x} AS DOUBLE)" for x in map(str, QUERY_VEC))
    from ccrawler_spark.textops.textstats import LANG_MARKERS

    codes = sorted(LANG_MARKERS)
    sel_counts = ", ".join(
        f"len(list_filter({_TOKENS}, t -> list_contains("
        f"{list(LANG_MARKERS[c])!r}, t))) AS c_{c}"
        for c in codes
    )
    # argmax, ties → earliest (ascending) code: evaluate codes in
    # ascending order with >= against all others
    pred_case = "CASE " + " ".join(
        f"WHEN {' AND '.join(f'c_{c} >= c_{o}' for o in codes if o != c)} "
        f"THEN '{c}'"
        for c in codes
    ) + " END"
    hits = f"greatest({', '.join('c_' + c for c in codes)})"

    # simhash: Σ_b 2^b · [Σ_tokens (±1 by bit b) > 0]; token hashes are
    # 60-bit non-negative so >> is the same as unsigned shift
    simhash_sum = " + ".join(
        f"(CASE WHEN list_sum(list_transform(th, h -> "
        f"CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(60)
    )
    # LSH bands (in lockstep with textops.dedup constants):
    # bucket_b = phash60(sig[b*r] || ',' || ... || sig[b*r + r-1])
    from ccrawler_spark.textops.dedup import (
        BAND_CAP, LSH_BUCKET_CAP, N_BANDS, N_MINHASH,
    )

    lsh_r = N_MINHASH // N_BANDS
    band_values = ", ".join(f"({b})" for b in range(N_BANDS))
    band_bucket = (
        "CASE band "
        + " ".join(
            "WHEN {b} THEN {h}".format(
                b=b,
                h=_h(
                    " || ',' || ".join(
                        f"CAST(sig_{b * lsh_r + j} AS VARCHAR)"
                        for j in range(lsh_r)
                    )
                ),
            )
            for b in range(N_BANDS)
        )
        + " END"
    )
    sig_list = "[" + ", ".join(f"sig_{i}" for i in range(N_MINHASH)) + "]"

    # SRP-LSH literals — the same deterministic hyperplanes and query
    # ring the Spark operators use (similarity.ann_topk_lsh /
    # embedding_near_dup_pairs with n_planes=8, n_tables=4)
    from ccrawler_spark.textops.similarity import SRP_BUCKET_CAP, _hyperplanes

    qbits = 0
    for p, plane in enumerate(_hyperplanes(EMB_DIM, 8, 0)):
        if sum(qc * x for qc, x in zip(QUERY_VEC, plane)) > 0:
            qbits |= 1 << p
    ann_ring = ", ".join(
        str(v) for v in [qbits] + [qbits ^ (1 << p) for p in range(8)]
    )
    srp_table_cases = " ".join(
        f"WHEN {t} THEN {_srp_bucket_sql(EMB_DIM, 10, t)}" for t in range(4)
    )

    # IVF literals — same deterministic centroids and probe ring as
    # similarity.ann_topk_ivf (n_cells=64, n_probe=8)
    from ccrawler_spark.textops.similarity import ivf_centroids

    _cents = ivf_centroids(EMB_DIM, 64)
    ivf_dots = ", ".join(
        "list_dot_product(CAST(embedding AS DOUBLE[]), ["
        + ", ".join(repr(x) for x in c) + "])"
        for c in _cents
    )
    _qd = [
        (sum(q * x for q, x in zip(QUERY_VEC, c)), i)
        for i, c in enumerate(_cents)
    ]
    ivf_probe = ", ".join(
        str(i) for _, i in sorted(_qd, key=lambda t: (-t[0], t[1]))[:8]
    )

    # trained-IVF literals (VERDICT r6 #2): load — or numpy-train, if
    # the oracle side runs before the Spark side — the SAME persisted
    # centroid JSON q_ann_cosine_topk_ivf_trained uses, then twin it
    # exactly like the untrained gate. Bound to the driver's gate sf
    # (ORACLE_SF_DIR): the centroids are the only sf-dependent literal
    # in the oracle suite.
    from ccrawler_spark.textops.similarity import ivf_trained_centroids_ensure

    _tcents = ivf_trained_centroids_ensure(
        _emb_parquet(ORACLE_SF_DIR), EMB_DIM, n_cells=64, n_iters=2,
    )
    ivf_t_dots = ", ".join(
        "list_dot_product(CAST(embedding AS DOUBLE[]), ["
        + ", ".join(repr(x) for x in c) + "])"
        for c in _tcents
    )
    _tqd = [
        (sum(q * x for q, x in zip(QUERY_VEC, c)), i)
        for i, c in enumerate(_tcents)
    ]
    ivf_t_probe = ", ".join(
        str(i) for _, i in sorted(_tqd, key=lambda t: (-t[0], t[1]))[:8]
    )
    lsh_banded_cte = f"""
              SELECT doc_id, band, bucket
              FROM sigs, (VALUES {band_values}) AS bb(band),
              LATERAL (SELECT {band_bucket} AS bucket)
              QUALIFY count(*) OVER (PARTITION BY band, bucket)
                      <= {LSH_BUCKET_CAP}"""

    # pruned-read gate twin: the FLAT tiny-fixture corpus under the
    # same deterministic image_id schedule. The fixture generator is
    # pyarrow-only, so calling it here makes the oracle self-contained
    # whichever side the driver happens to run first.
    from ccrawler_spark.fixtures.gen import ensure_fixtures

    _flat_corpus = (ensure_fixtures("tiny") / "corpus.parquet").as_posix()
    _sched_ids = {
        i for v in _pruned_read_schedule().values() for i in v
    }
    _id_list = ", ".join(f"'{i}'" for i in sorted(_sched_ids))

    # crawl-round gate twin: the pure-Python oracle's fetch log,
    # recomputed fresh (see _oracle_crawl_log_parquet)
    _crawl_log = _oracle_crawl_log_parquet(rounds=2)

    return {
        "topk_per_group": """
            SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders) WHERE rn <= 2
        """,
        "priority_dequeue": """
            SELECT o_orderkey, o_orderpriority, o_orderdate FROM orders
            ORDER BY o_orderpriority, o_orderdate, o_orderkey LIMIT 100
        """,
        "anti_join_dedup": """
            SELECT event_id, user_id, event_type FROM events
            WHERE event_id NOT IN (SELECT min(event_id) FROM events
                                   GROUP BY user_id)
        """,
        "window_lag": """
            SELECT event_id, user_id,
                   round(CAST(epoch_us(ts) - epoch_us(lag(ts) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id))
                     AS DOUBLE) / 1e6, 6) AS gap_s
            FROM events
        """,
        "rollup_metrics": """
            SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_price,
                   count(*) AS cnt
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "hot_key_detection": """
            SELECT user_id, count(*) AS cnt FROM events
            GROUP BY user_id HAVING count(*) >= 75
        """,
        "asof_latest": """
            SELECT user_id, event_id, ts, event_type FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id
                ORDER BY ts DESC, event_id DESC) AS rn FROM events)
            WHERE rn = 1
        """,
        "set_union": """
            SELECT user_id FROM events WHERE event_type = 'click'
            UNION
            SELECT user_id FROM events WHERE event_type = 'view'
        """,
        "broadcast_dim_join": """
            SELECT n_name, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "bucket_histogram": """
            SELECT o_orderkey % 64 AS bucket, count(*) AS cnt
            FROM orders GROUP BY 1
        """,
        "dedup_exact": f"""
            SELECT {_h('text')} AS text_hash, min(doc_id) AS doc_id,
                   count(*) AS dup_count
            FROM documents GROUP BY 1
        """,
        "minhash_signatures": f"""
            SELECT doc_id, {minhash_cols}
            FROM (SELECT doc_id, {_shingles(3)} AS sh FROM documents)
        """,
        "token_stats": f"""
            SELECT doc_id, length(text) AS n_chars_actual,
                   len({_TOKENS}) AS n_tokens,
                   len(list_distinct({_TOKENS})) AS n_distinct_tokens,
                   round(CAST(length(text) AS DOUBLE) / len({_TOKENS}), 4)
                     AS avg_token_len
            FROM documents
        """,
        "quality_score": f"""
            WITH b AS (
              SELECT doc_id,
                CAST(len({_TOKENS}) AS DOUBLE) AS n_tok,
                CAST(length(text) - length(regexp_replace(text,
                  '[^\\w\\s]', '', 'g')) AS DOUBLE)
                  / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct_ratio,
                CAST(len(list_filter({_TOKENS},
                  t -> list_contains({STOP_SQL}, t))) AS DOUBLE)
                  / greatest(CAST(len({_TOKENS}) AS DOUBLE), 1.0) AS stop_ratio
              FROM documents)
            SELECT doc_id, round(punct_ratio, 6) AS punct_ratio,
                   round(stop_ratio, 6) AS stopword_ratio,
                   round(0.4 * least(1.0, n_tok / 50.0)
                       + 0.3 * greatest(0.0, 1.0 - punct_ratio * 10.0)
                       + 0.3 * least(1.0, stop_ratio * 5.0), 6) AS quality
            FROM b
        """,
        "lang_id": f"""
            WITH c AS (SELECT doc_id, lang AS lang_label, {sel_counts}
                       FROM documents)
            SELECT doc_id, lang_label, {pred_case} AS lang_pred,
                   {hits} AS marker_hits
            FROM c
        """,
        "training_corpus_select": f"""
            WITH surv AS (
              SELECT min(doc_id) AS doc_id, count(*) AS dup_count
              FROM documents GROUP BY {_h('text')}
            ), qb AS (
              SELECT doc_id,
                CAST(len({_TOKENS}) AS DOUBLE) AS n_tok,
                CAST(length(text) - length(regexp_replace(text,
                  '[^\\w\\s]', '', 'g')) AS DOUBLE)
                  / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct_ratio,
                CAST(len(list_filter({_TOKENS},
                  t -> list_contains({STOP_SQL}, t))) AS DOUBLE)
                  / greatest(CAST(len({_TOKENS}) AS DOUBLE), 1.0) AS stop_ratio
              FROM documents
            ), qual AS (
              SELECT doc_id,
                     round(0.4 * least(1.0, n_tok / 50.0)
                         + 0.3 * greatest(0.0, 1.0 - punct_ratio * 10.0)
                         + 0.3 * least(1.0, stop_ratio * 5.0), 6) AS quality
              FROM qb
            ), lc AS (SELECT doc_id, {sel_counts} FROM documents),
            lp AS (SELECT doc_id, {pred_case} AS lang_pred FROM lc)
            SELECT surv.doc_id, dup_count, quality, lang_pred
            FROM surv JOIN qual USING (doc_id) JOIN lp USING (doc_id)
            WHERE quality >= 0.7 AND lang_pred = 'en'
        """,
        "fingerprint": f"""
            SELECT doc_id, {_h('text')} AS content_hash,
                   list_min(list_transform(
                     list_transform(range(1, greatest(len(w) - 6, 2)),
                       i -> {" || ' ' || ".join(f"w[i+{j}]" for j in range(8))}),
                     s -> {_h('s')})) AS rolling_min_hash
            FROM (SELECT doc_id, text, {_TOKENS} w FROM documents)
        """,
        "simhash": f"""
            SELECT doc_id, ({simhash_sum}) AS simhash
            FROM (SELECT doc_id,
                    list_transform({_TOKENS}, t -> {_h('t')}) AS th
                  FROM documents)
        """,
        "lsh_candidate_pairs": f"""
            WITH sigs AS (
              SELECT doc_id, {minhash_cols}
              FROM (SELECT doc_id, {_shingles(3)} AS sh FROM documents)
            ), banded AS ({lsh_banded_cte}
            ), pairs AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b,
                   CAST(len(list_filter(range(1, {N_MINHASH + 1}),
                     i -> sa.sig[i] = sb.sig[i])) AS DOUBLE)
                     / {float(N_MINHASH)} AS est_jaccard
            FROM pairs
            JOIN (SELECT doc_id, {sig_list} AS sig FROM sigs) sa
              ON sa.doc_id = pairs.doc_a
            JOIN (SELECT doc_id, {sig_list} AS sig FROM sigs) sb
              ON sb.doc_id = pairs.doc_b
        """,
        "ngram_jaccard_pairs": f"""
            WITH shing AS (
              SELECT doc_id, {_shingles(3)} AS sh FROM documents
            ), sigs AS (
              SELECT doc_id, {minhash_cols} FROM shing
            ), banded AS ({lsh_banded_cte}
            ), cands AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b,
                   round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                     / CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE), 6)
                     AS jaccard
            FROM cands
            JOIN shing sa ON sa.doc_id = cands.doc_a
            JOIN shing sb ON sb.doc_id = cands.doc_b
            WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                / CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE) >= 0.1
        """,
        "ann_cosine_topk": f"""
            WITH q AS (SELECT [{q}] AS qv)
            SELECT vec_id, label,
                   round(list_dot_product(CAST(embedding AS DOUBLE[]), qv)
                     / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                              CAST(embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(qv, qv))), 4) AS cosine
            FROM embeddings, q
            ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        "ann_cosine_topk_lsh": f"""
            WITH q AS (SELECT [{q}] AS qv)
            SELECT vec_id, label,
                   round(list_dot_product(CAST(embedding AS DOUBLE[]), qv)
                     / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                              CAST(embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(qv, qv))), 4) AS cosine
            FROM embeddings, q
            WHERE {_srp_bucket_sql(EMB_DIM, 8, 0)} IN ({ann_ring})
            ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        "ann_cosine_topk_ivf": f"""
            WITH q AS (SELECT [{q}] AS qv),
            a AS (
              SELECT vec_id, label, embedding,
                     list_position(dl, list_max(dl)) - 1 AS cell
              FROM (SELECT vec_id, label, embedding,
                           [{ivf_dots}] AS dl
                    FROM embeddings)
            )
            SELECT vec_id, label,
                   round(list_dot_product(CAST(embedding AS DOUBLE[]), qv)
                     / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                              CAST(embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(qv, qv))), 4) AS cosine
            FROM a, q
            WHERE cell IN ({ivf_probe})
            ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        "ann_cosine_topk_ivf_trained": f"""
            WITH q AS (SELECT [{q}] AS qv),
            a AS (
              SELECT vec_id, label, embedding,
                     list_position(dl, list_max(dl)) - 1 AS cell
              FROM (SELECT vec_id, label, embedding,
                           [{ivf_t_dots}] AS dl
                    FROM embeddings)
            )
            SELECT vec_id, label,
                   round(list_dot_product(CAST(embedding AS DOUBLE[]), qv)
                     / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                              CAST(embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(qv, qv))), 4) AS cosine
            FROM a, q
            WHERE cell IN ({ivf_t_probe})
            ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        "embedding_near_dup": f"""
            WITH bk AS (
              SELECT vec_id, tbl,
                     CASE tbl {srp_table_cases} END AS bucket
              FROM embeddings, (VALUES (0), (1), (2), (3)) AS t(tbl)
              QUALIFY count(*) OVER (PARTITION BY tbl,
                      CASE tbl {srp_table_cases} END) <= {SRP_BUCKET_CAP}
            ), pairs AS (
              SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM bk a JOIN bk b
                ON a.tbl = b.tbl AND a.bucket = b.bucket
               AND a.vec_id < b.vec_id
            )
            SELECT id_a, id_b, cosine FROM (
              SELECT id_a, id_b,
                     round(list_dot_product(ea, eb)
                       / (sqrt(list_dot_product(ea, ea))
                          * sqrt(list_dot_product(eb, eb))), 4) AS cosine
              FROM (SELECT pairs.id_a, pairs.id_b,
                           CAST(va.embedding AS DOUBLE[]) AS ea,
                           CAST(vb.embedding AS DOUBLE[]) AS eb
                    FROM pairs
                    JOIN embeddings va ON va.vec_id = pairs.id_a
                    JOIN embeddings vb ON vb.vec_id = pairs.id_b)
            ) WHERE cosine >= 0.4
        """,
        # collapse-then-band, matching dedup._banded_hamming_pairs:
        # Hamming-0 pairs from an exact fingerprint self-join (uncapped),
        # banding + cap over DISTINCT fingerprints, then fingerprint
        # pairs expanded back to member pairs
        "phash_near_pairs": f"""
            WITH p AS (
              SELECT doc_id, {_h('text')} AS phash FROM documents
              UNION ALL
              SELECT doc_id + 100000, xor({_h('text')}, 3) FROM documents
            ),
            d AS (SELECT DISTINCT phash FROM p),
            banded AS (
              SELECT phash, band, (phash >> (16 * band)) & 65535 AS key
              FROM d, (VALUES (0), (1), (2), (3)) AS bb(band)
              QUALIFY count(*) OVER (PARTITION BY band,
                      (phash >> (16 * band)) & 65535) <= {BAND_CAP}
            ),
            hp AS (
              SELECT DISTINCT a.phash AS ha, b.phash AS hb,
                     CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.key = b.key AND a.phash < b.phash
              WHERE bit_count(xor(a.phash, b.phash)) <= 6
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(0 AS INT) AS hamming
            FROM p a JOIN p b
              ON a.phash = b.phash AND a.doc_id < b.doc_id
            UNION ALL
            SELECT least(ma.doc_id, mb.doc_id) AS id_a,
                   greatest(ma.doc_id, mb.doc_id) AS id_b, hp.hamming
            FROM hp
            JOIN p ma ON ma.phash = hp.ha
            JOIN p mb ON mb.phash = hp.hb
        """,
        "phash_near_pairs_star": f"""
            WITH p AS (
              SELECT doc_id, {_h('text')} AS phash FROM documents
              UNION ALL
              SELECT doc_id + 100000, xor({_h('text')}, 3) FROM documents
              UNION ALL
              SELECT doc_id + 200000, {_h('text')} FROM documents
              UNION ALL
              SELECT doc_id + 300000, {_h('text')} FROM documents
            ),
            d AS (SELECT DISTINCT phash FROM p),
            banded AS (
              SELECT phash, band, (phash >> (16 * band)) & 65535 AS key
              FROM d, (VALUES (0), (1), (2), (3)) AS bb(band)
              QUALIFY count(*) OVER (PARTITION BY band,
                      (phash >> (16 * band)) & 65535) <= {BAND_CAP}
            ),
            hp AS (
              SELECT DISTINCT a.phash AS ha, b.phash AS hb,
                     CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.key = b.key AND a.phash < b.phash
              WHERE bit_count(xor(a.phash, b.phash)) <= 6
            ),
            reps AS (
              SELECT phash, min(doc_id) AS rep
              FROM p GROUP BY phash HAVING count(*) > 1
            )
            SELECT r.rep AS id_a, p.doc_id AS id_b, CAST(0 AS INT) AS hamming
            FROM p JOIN reps r USING (phash) WHERE p.doc_id <> r.rep
            UNION ALL
            SELECT least(ma.doc_id, mb.doc_id) AS id_a,
                   greatest(ma.doc_id, mb.doc_id) AS id_b, hp.hamming
            FROM hp
            JOIN p ma ON ma.phash = hp.ha
            JOIN p mb ON mb.phash = hp.hb
        """,
        "simhash_near_pairs": f"""
            WITH th AS (SELECT doc_id,
                          list_transform({_TOKENS}, t -> {_h('t')}) AS th
                        FROM documents),
            s AS (SELECT doc_id, ({simhash_sum}) AS simhash FROM th),
            d AS (SELECT DISTINCT simhash FROM s),
            banded AS (
              SELECT simhash, band, (simhash >> (15 * band)) & 32767 AS key
              FROM d, (VALUES (0), (1), (2), (3)) AS bb(band)
              QUALIFY count(*) OVER (PARTITION BY band,
                      (simhash >> (15 * band)) & 32767) <= {BAND_CAP}
            ),
            hp AS (
              SELECT DISTINCT a.simhash AS ha, b.simhash AS hb,
                     CAST(bit_count(xor(a.simhash, b.simhash)) AS INT)
                       AS hamming
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.key = b.key
               AND a.simhash < b.simhash
              WHERE bit_count(xor(a.simhash, b.simhash)) <= 10
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(0 AS INT) AS hamming
            FROM s a JOIN s b
              ON a.simhash = b.simhash AND a.doc_id < b.doc_id
            UNION ALL
            SELECT least(sa.doc_id, sb.doc_id) AS doc_a,
                   greatest(sa.doc_id, sb.doc_id) AS doc_b, hp.hamming
            FROM hp
            JOIN s sa ON sa.simhash = hp.ha
            JOIN s sb ON sb.simhash = hp.hb
        """,
        "pruned_corpus_read": f"""
            SELECT image_id, w, h, fmt, phash,
                   CAST(octet_length(bytes) AS BIGINT) AS bytes_len,
                   caption
            FROM read_parquet('{_flat_corpus}')
            WHERE image_id IN ({_id_list})
        """,
        "crawl_round_log": f"""
            SELECT round, seq, url, host, slot_ms
            FROM read_parquet('{_crawl_log}')
        """,
    }
