"""Deduplication operators for large-scale training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle→minhash→band→bucket-join),
SimHash, and n-gram Jaccard — all over a ``documents``-shaped table
(doc_id, text, ...). The fingerprint builds (minhash, simhash) are
vectorized Arrow batches — Spark evaluates higher-order lambdas
interpreted (CodegenFallback, no common-subexpression elimination),
so the per-token/per-shingle hash-and-fold pipelines cost µs/element
JVM-side versus one numpy matrix op per doc in the Arrow pass; both
use the portable md5-60 and exact JVM-tokenization parity, so the
DuckDB twins stay value-hash-equal (see simhash64 for the parity
rules). Everything downstream is DataFrame/Catalyst. No shuffle ever
carries document text: the heaviest shuffled payload is the 128-byte
signature, and the banded self-joins move (band, bucket, id) triples
only, capped via broadcast anti-joins against the over-cap group
lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hashing import phash60

N_MINHASH = 16
N_BANDS = 4  # 4 rows per band: per-band collision prob is J^4, so
# shared-vocab corpora (J ≈ 0.2-0.4 between unrelated docs) stop
# flooding buckets, while true near-dups (J ≥ 0.8) still collide in
# ≥1 of 4 bands with P ≈ 0.88-0.999
SHINGLE_K = 3
NGRAM_MEMBER_BROADCAST_CAP = 1_000_000  # candidate pairs above which
# the member-id semi-join in ngram_jaccard_pairs stops broadcasting
# (≤ 2M distinct 8-byte ids ≈ 16 MB broadcast at the cap; a dup-heavy
# corpus can push the member set toward O(N), ADVICE r4)
LSH_BUCKET_CAP = 64  # drop (band, bucket) groups larger than this —
# standard LSH hygiene: a bucket of size m contributes O(m²) candidate
# pairs, and pathological buckets (boilerplate, empty docs) otherwise
# go quadratic. A true near-dup pair lost to one over-full band still
# has the other n_bands-1 chances. The DuckDB oracle twin applies the
# identical cap (__spark_entry__.oracle_sql), keeping the gate exact.


def tokens_col(text_col):
    """Whitespace tokenization, shared by several ops (matches DuckDB
    ``regexp_split_to_array(trim(text), '\\s+')``)."""
    return F.split(F.trim(text_col), r"\s+")


def word_shingles(text_col, k: int = SHINGLE_K):
    """Array of k-word shingles (space-joined), distinct."""
    w = tokens_col(text_col)
    n = F.size(w)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    shingle = lambda i: F.concat_ws(
        " ", *[F.element_at(w, (i + j + 1).cast("int")) for j in range(k)]
    )
    return F.array_distinct(
        F.when(n >= k, F.transform(idx, shingle)).otherwise(F.array(w[0]))
    )


def shingle_arrays(docs: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, shingles array<string>) — ``word_shingles`` semantics
    in one Arrow batch (round 8): identical construction to the
    ``minhash_signatures`` batch pass (ASCII ``\\s`` split, trim of
    0x20 only, first-occurrence distinct, ``[w[0]]`` when n < k;
    null text → ``[null]``, matching ``array(w[0])`` over a null
    split). The JVM HOF form evaluated interpreted per element and,
    being inlinable, re-ran once per consuming join branch; the gate's
    value hash pins parity."""

    def sh(batches):
        import re

        import pandas as pd

        ws = re.compile(r"\s+", re.ASCII)
        for pdf in batches:
            out = []
            for text in pdf["text"]:
                if text is None:
                    out.append([None])
                    continue
                toks = ws.split(text.strip(" "))
                if len(toks) >= k:
                    out.append(list(dict.fromkeys(
                        " ".join(toks[i:i + k])
                        for i in range(len(toks) - k + 1)
                    )))
                else:
                    out.append([toks[0]])
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "shingles": out})

    return docs.select("doc_id", "text").mapInPandas(
        sh, "doc_id long, shingles array<string>"
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact content dedup: one survivor (min doc_id) per text hash.
    The groupBy key is the 60-bit portable hash, not the text — the
    shuffle moves 8-byte keys, not documents."""
    return (
        docs.withColumn("text_hash", phash60(F.col("text")))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("dup_count"))
    )


MINHASH_M = (1 << 31) - 1  # Mersenne prime 2^31-1: products stay < 2^62,
# safe under both Spark's wrapping and DuckDB's checked BIGINT arithmetic


def minhash_mix_params(i: int) -> tuple[int, int]:
    """Deterministic (a_i, b_i) for the i-th universal-hash mix, derived
    from the portable hash so Spark/DuckDB/Python agree."""
    from .hashing import phash60_py

    return (phash60_py(f"mh_a|{i}") % (MINHASH_M - 1) + 1,
            phash60_py(f"mh_b|{i}") % MINHASH_M)


def minhash_signatures(docs: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    """(doc_id, sig: array<long>) — one portable md5 per *shingle*
    (h0 = phash60(shingle) mod M), then 16 universal-hash mixes
    sig_i = min over shingles of (a_i·h0 + b_i) mod M.

    Vectorized Arrow path (round 4, same migration as ``simhash64``):
    the previous two-projection JVM form was the best Catalyst shape —
    a slim exchange pinning the shingle-hash array so the interpreted
    HOF mixes would not re-run the md5 pipeline 16× — but the mixes
    themselves still evaluated interpreted at ~µs/element (measured
    ~2.1 s fully materialized at sf0.1; ~0.5 s here). Per batch, the
    shingle set is built with the exact ``word_shingles`` semantics
    (ASCII tokenization parity — see ``simhash64``; k-word join,
    first-occurrence distinct, ``[w[0]]`` when n < k), hashed with the
    portable md5-60, and all 16 mixes + mins are one (shingles × 16)
    int64 matrix op — products stay < 2^62, so numpy int64 equals the
    JVM/DuckDB BIGINT arithmetic bit-for-bit (the value-hash gate
    pins it)."""
    params = [minhash_mix_params(i) for i in range(n_hashes)]

    def mh(batches):
        import re

        import numpy as np
        import pandas as pd

        from ccrawler_spark.textops.hashing import phash60_index

        ws = re.compile(r"\s+", re.ASCII)
        a = np.array([p[0] for p in params], dtype=np.int64)
        b = np.array([p[1] for p in params], dtype=np.int64)
        k = SHINGLE_K
        for pdf in batches:
            # batch-wide shingle-vocabulary dedup (VERDICT r4 #2): md5
            # + all 16 mixes run once per DISTINCT shingle in the batch;
            # each doc then takes column-mins over its shingle rows.
            # None text → null signature (SQL null propagation,
            # ADVICE r4).
            sh_lists = []
            for text in pdf["text"]:
                if text is None:
                    sh_lists.append(None)
                    continue
                toks = ws.split(text.strip(" "))
                if len(toks) >= k:
                    sh_lists.append(list(dict.fromkeys(
                        " ".join(toks[i:i + k])
                        for i in range(len(toks) - k + 1)
                    )))
                else:
                    sh_lists.append([toks[0]])
            hs, idxs = phash60_index(sh_lists)
            mixed = ((hs % MINHASH_M)[:, None] * a + b) % MINHASH_M
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "sig": [
                    None if idx is None else mixed[idx].min(axis=0).tolist()
                    for idx in idxs
                ],
            })

    return docs.select("doc_id", "text").mapInPandas(
        mh, "doc_id long, sig array<long>"
    )


def lsh_band_buckets(
    sigs: DataFrame, n_hashes: int = N_MINHASH, n_bands: int = N_BANDS
) -> DataFrame:
    """(doc_id, band, bucket): each signature hashed per band of
    r = n_hashes/n_bands rows. Ids only — no signature arrays ride
    any downstream shuffle. (The round-1 exchange barrier here is
    gone: signatures now arrive from ``minhash_signatures``'s Arrow
    pass — materialized data, not an inlinable expression tree — and
    ``lsh_candidate_pairs`` checkpoints them anyway.)"""
    r = n_hashes // n_bands
    band_cols = [
        phash60(
            F.concat_ws(
                ",", *[F.col("sig")[b * r + j].cast("string") for j in range(r)]
            )
        ).alias(f"band_{b}")
        for b in range(n_bands)
    ]
    return sigs.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band", "bucket")
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """MinHash-LSH near-dup candidates: docs sharing any band bucket.

    Scale shape (the part that must survive 100 TB):
      1. the banded self-join carries (band, bucket, doc_id) triples
         ONLY — 24 bytes/row, never signatures or text;
      2. (band, bucket) groups above ``bucket_cap`` are dropped before
         the join, bounding the worst bucket at O(cap²) pairs;
      3. signatures are re-attached per *pair side* after the
         pair-distinct, so the wide arrays touch O(|pairs|) rows.

    The signature frame is localCheckpoint'ed: three plan branches
    consume it (banding + both per-side attaches) and each would
    otherwise re-run the full shingle→md5→mix pipeline — measured 3×
    the wall at sf0.1 (1.28 → 0.65 s warm-session). At warehouse scale
    this is the persisted signature table you would have anyway.

    Returns distinct pairs (doc_a < doc_b) with their estimated
    Jaccard (matching signature fraction).
    """
    sigs = minhash_signatures(docs, n_hashes).localCheckpoint(eager=True)
    banded = lsh_band_buckets(sigs, n_hashes, n_bands)
    capped = _drop_overfull(banded, ["band", "bucket"], bucket_cap)
    a = capped.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    b = capped.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    pairs = (
        a.join(b, on=["band", "bucket"], how="inner")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sig_a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(sig_a, on="doc_a")
        .join(sig_b, on="doc_b")
        .select(
            "doc_a", "doc_b",
            (
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda m: m,
                    )
                )
                / F.lit(float(n_hashes))
            ).alias("est_jaccard"),
        )
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.2) -> DataFrame:
    """Exact n-gram Jaccard over LSH candidates: join texts back for the
    candidate pairs only (never all-pairs), compute
    |A∩B| / |A∪B| on distinct shingle sets.

    The shingle build is restricted to the candidate-pair MEMBERS via a
    broadcast semi-join before the per-doc shingle expression runs —
    O(|pairs|) shingle computations, not O(N): at 10⁹ docs with a few
    million candidate pairs that is the difference between re-shingling
    the corpus and touching 0.1 % of it. The candidate frame is pinned
    (localCheckpoint) because three branches consume it (member-id set
    + both join sides) and it is itself a multi-stage plan.

    The member-id broadcast is size-gated (ADVICE r4): in a dup-heavy
    corpus the member set approaches O(N) doc_ids, so above
    ``NGRAM_MEMBER_BROADCAST_CAP`` pairs the semi-join falls back to a
    shuffle-hash join instead of forcing an unbounded driver broadcast
    (same gating style as the engine's ARROW_PUSHDOWN_CAP).
    The count is free — ``cands`` is already checkpointed."""
    cands = lsh_candidate_pairs(docs).localCheckpoint(eager=True)
    member_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    if cands.count() <= NGRAM_MEMBER_BROADCAST_CAP:
        member_ids = F.broadcast(member_ids)
    else:
        member_ids = member_ids.hint("shuffle_hash")
    sh = shingle_arrays(docs.join(member_ids, on="doc_id"))
    j = (
        cands.join(sh.withColumnRenamed("doc_id", "doc_a")
                     .withColumnRenamed("shingles", "sh_a"), on="doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b")
                .withColumnRenamed("shingles", "sh_b"), on="doc_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        j.select(
            "doc_a", "doc_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


SIMHASH_BITS = 60  # the portable hash supplies 60 bits


def simhash64(docs: DataFrame) -> DataFrame:
    """SimHash over whitespace tokens: bit b of the fingerprint is the
    sign of Σ_tokens (±1 by bit b of phash60(token)).

    Vectorized Arrow path (round 4): the previous single-pass
    aggregate form was the best *JVM* shape (one traversal, 60 votes
    at once, token hashes pinned behind a slim exchange), but Spark
    evaluates higher-order lambdas interpreted (CodegenFallback) at
    ~µs/element — the 60-bit vote fold was the whole query's cost
    (measured ~2.0 s fully materialized at sf0.1; ~0.3 s here). Per
    batch, token hashing uses the portable md5-60 (``phash60_py`` —
    bit-identical to the JVM/DuckDB ``phash60`` by test_hashing) and
    the vote matrix is one numpy (tokens × 60) reduction per doc —
    integer ops, exact.

    Tokenization parity with ``tokens_col`` (and the DuckDB twin) is
    deliberate and tested by the value-hash gate: ASCII-only ``\\s``
    (Java regex semantics, not Python's Unicode default), trim of
    SPACES only (Spark/DuckDB ``trim`` strips 0x20, not all
    whitespace), and Java's limit=-1 split (leading/trailing empty
    tokens kept)."""

    def sh(batches):
        import re

        import numpy as np
        import pandas as pd

        from ccrawler_spark.textops.hashing import phash60_index

        ws = re.compile(r"\s+", re.ASCII)
        bitpos = np.arange(SIMHASH_BITS, dtype=np.int64)
        for pdf in batches:
            # batch-wide vocabulary dedup: md5 once per DISTINCT token
            # (Zipf token streams → ~10× fewer hashes, VERDICT r4 #2);
            # None text → null fingerprint, matching the SQL twins'
            # split(trim(NULL)) null propagation (ADVICE r4)
            tok_lists = [
                None if text is None else ws.split(text.strip(" "))
                for text in pdf["text"]
            ]
            hs, idxs = phash60_index(tok_lists)
            signs = 2 * ((hs[:, None] >> bitpos) & 1) - 1  # (V, 60)
            out = [
                None if idx is None else int(
                    ((signs[idx].sum(axis=0) > 0).astype(np.int64)
                     << bitpos).sum()
                )
                for idx in idxs
            ]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "simhash": pd.array(out, dtype="Int64"),
            })

    return docs.select("doc_id", "text").mapInPandas(
        sh, "doc_id long, simhash long"
    )


BANDED_SPREAD = 1  # partition-count multiple of defaultParallelism for
# the banded self-join stage (explicit count, exempt from AQE
# coalescing — see _banded_hamming_pairs). Interleaved same-session A/B
# at sf1.0: x1 beat x4 on both simhash_near_pairs and
# phash_near_pairs_star in 4/4 trials (task-launch overhead of the
# extra partitions outweighs finer skew spreading at this scale).

BAND_CAP = 1024  # drop (band, key) groups larger than this before the
# banded self-joins below — the same hygiene as LSH_BUCKET_CAP: a group
# of size m contributes O(m²) join rows, and at 10⁹ docs a 15-16-bit
# band key collides ~3×10⁴ deep on hash noise alone, sending the
# equi-join quadratic with no true near-dups involved. The cap applies
# to DISTINCT fingerprints only: identical fingerprints are collapsed
# to one representative before banding, and their intra-cluster pairs
# (Hamming 0) are emitted from an exact fingerprint self-join that the
# cap never touches — so a boilerplate/constant-fingerprint cluster of
# any size keeps all its pairs (the realistic crawl-corpus case that a
# raw member-level cap would silently drop). Recall trade on the
# remaining Hamming ≥ 1 pairs: a true near pair is lost only if every
# one of its shared bands holds > cap distinct fingerprints — pure
# hash-noise density, ≫ any plausible near-dup neighborhood. The
# DuckDB oracle twin applies the identical collapse + cap.


def _drop_overfull(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Drop rows of groups larger than ``cap`` — the pre-join hygiene
    cap, as a broadcast ANTI-join against the (tiny, usually empty)
    over-cap group list instead of a window: a window partitioned by
    the group keys shuffles AND sorts the whole frame, while the
    aggregate is map-side-combined to one row per group and only the
    over-cap groups — pathological by construction — are broadcast.
    Semantics identical to the QUALIFY count(*) twin."""
    over = (
        df.groupBy(*keys).agg(F.count("*").alias("_bn"))
        .filter(F.col("_bn") > cap)
        .select(*keys)
    )
    return df.join(F.broadcast(over), on=keys, how="left_anti")


def _banded_hamming_pairs(df: DataFrame, id_col: str, h_col: str,
                          out_a: str, out_b: str, n_bands: int,
                          band_bits: int, max_hamming: int,
                          band_cap: int,
                          exact_pairs: str = "all") -> DataFrame:
    """Shared core of phash/simhash near-dup: banded LSH over DISTINCT
    fingerprints + exact-duplicate expansion (see BAND_CAP).

    Scale shape: the banded self-join carries (band, key, fingerprint)
    triples over *distinct* fingerprints; members (id ↔ fingerprint)
    re-attach per pair side afterwards, touching O(|pairs|) rows. The
    exact-dup self-join keys on the full fingerprint, so only true
    duplicate clusters collide there — its output is exactly the
    intra-cluster pairs, which are the answer, not noise.

    ``exact_pairs`` bounds that output for pathological corpora
    (ADVICE r4): "all" (default, the oracle-twinned semantics) emits
    every intra-cluster pair — O(m²) for an m-member identical-
    fingerprint cluster; "star" emits only (min-member, other) edges —
    O(m) rows that still connect every member to its cluster, which is
    all a dedup keep-one pass needs. A crawl corpus where one
    boilerplate fingerprint covers 10⁷ docs turns 5·10¹³ pairs into
    10⁷ rows. Callers using "star" must keep any oracle in lockstep."""
    members = df.select(F.col(id_col).alias("_id"), F.col(h_col).alias("_h"))
    # materialize the slim (id, fingerprint) frame ONCE: five plan
    # branches consume it (exact join ×2, distinct, expansion ×2), and
    # when Spark broadcasts a branch it re-evaluates the subtree
    # WITHOUT the reusable exchange — for simhash that re-runs the
    # interpreted HOF vote pipeline per branch (measured 2.9 → 10.7 s
    # at sf0.1 without this). localCheckpoint pins the 16-byte rows in
    # the block manager; at warehouse scale this is the persisted
    # signature-table stage boundary you would have anyway.
    members = members.localCheckpoint(eager=True)
    # Hamming-0 pairs: an equi-join on the full fingerprint, no banding,
    # no cap — output size = Σ c·(c-1)/2 over duplicate clusters, which
    # is the result itself (pair semantics), not join-noise blowup
    if exact_pairs == "star":
        # representative mode: min-member ↔ member edges only (O(m)
        # per cluster). The aggregate is map-side-combined; the join
        # back is on the fingerprint, touching only true dup clusters.
        reps = (
            members.groupBy("_h")
            .agg(F.min("_id").alias("_rep"), F.count("*").alias("_c"))
            .filter(F.col("_c") > 1)
            .select("_h", "_rep")
        )
        exact = (
            members.join(reps, on="_h")
            .filter(F.col("_id") != F.col("_rep"))
            .select(F.col("_rep").alias(out_a), F.col("_id").alias(out_b),
                    F.lit(0).alias("hamming"))
        )
    else:
        ma = members.select(F.col("_id").alias(out_a), "_h")
        mb = members.select(F.col("_id").alias(out_b), "_h")
        exact = (
            ma.join(mb, on="_h")
            .filter(F.col(out_a) < F.col(out_b))
            .select(out_a, out_b, F.lit(0).alias("hamming"))
        )
    # Explicit-count repartition before the banding/self-join (guide
    # §2.5 stragglers / §2.2): the distinct's shuffle INPUT is tiny
    # (8-byte fingerprints), so AQE's size-based coalescing collapses
    # it — and every stage downstream of it — to ~1 partition; but the
    # banded self-join below MULTIPLIES rows (at bench sf1.0: 50k
    # distinct simhashes → 14M candidate pairs), so the join probe,
    # bit_count filter, pair-distinct and member expansion all ran in
    # that one task. An explicit numPartitions (REPARTITION_BY_NUM is
    # exempt from AQE coalescing) keeps the multiplying stage at
    # cluster parallelism; distinct reuses the partitioning (no second
    # exchange). Measured on the declared simhash_near_pairs query at
    # sf1.0: 9.9-14.4 s → 1.6 s warm, byte-identical output.
    p = df.sparkSession.sparkContext.defaultParallelism * BANDED_SPREAD
    distinct_h = members.select("_h").repartition(p, "_h").distinct()
    bands = [
        F.shiftrightunsigned(F.col("_h"), band_bits * b)
        .bitwiseAND(F.lit((1 << band_bits) - 1))
        .alias(f"b{b}")
        for b in range(n_bands)
    ]
    banded = distinct_h.select(
        "_h", F.posexplode(F.array(*bands)).alias("band", "key")
    )
    banded = _drop_overfull(banded, ["band", "key"], band_cap)
    ba = banded.select(F.col("_h").alias("_ha"), "band", "key")
    bb = banded.select(F.col("_h").alias("_hb"), "band", "key")
    hp = (
        ba.join(bb, on=["band", "key"])
        .filter(F.col("_ha") < F.col("_hb"))
        .select(
            "_ha", "_hb",
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    # expand fingerprint pairs to member pairs (cross product of the two
    # clusters — every such pair is a true near-dup at that distance)
    near = (
        hp.join(members.select(F.col("_id").alias("_ida"),
                               F.col("_h").alias("_ha")), on="_ha")
        .join(members.select(F.col("_id").alias("_idb"),
                             F.col("_h").alias("_hb")), on="_hb")
        .select(
            F.least("_ida", "_idb").alias(out_a),
            F.greatest("_ida", "_idb").alias(out_b),
            "hamming",
        )
    )
    return exact.unionByName(near)


def phash_near_pairs(df: DataFrame, id_col: str = "image_id",
                     phash_col: str = "phash", max_hamming: int = 6,
                     band_cap: int = BAND_CAP,
                     exact_pairs: str = "all") -> DataFrame:
    """O18 (SURVEY.md §2): perceptual-hash Hamming clustering over the
    corpus — banded LSH on the 64-bit phash (4 bands × 16 bits) so the
    self-join never goes O(n²); exact distance check afterwards with
    ``bit_count(a ^ b)``. By pigeonhole, any pair within Hamming ≤ 3 is
    guaranteed to share a band; larger distances are found with high
    probability. Identical fingerprints are collapsed before banding
    and their pairs emitted exactly; (band, key) groups above
    ``band_cap`` *distinct* fingerprints are dropped before the join
    (see BAND_CAP)."""
    return _banded_hamming_pairs(
        df, id_col, phash_col, out_a="id_a", out_b="id_b",
        n_bands=4, band_bits=16, max_hamming=max_hamming,
        band_cap=band_cap, exact_pairs=exact_pairs,
    )


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 8,
                       band_cap: int = BAND_CAP,
                       exact_pairs: str = "all") -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded to avoid the
    O(n²) self-join: 4 bands of 15 bits each — any pair within Hamming
    ≤ 8 of a 60-bit fingerprint shares at least one exact band with
    good probability (exact guarantee at ≤ 3 by pigeonhole). Identical
    fingerprints are collapsed before banding and their pairs emitted
    exactly; (band, key) groups above ``band_cap`` *distinct*
    fingerprints are dropped before the join (see BAND_CAP; the DuckDB
    twin collapses and caps in lockstep)."""
    # no exchange barrier needed: _banded_hamming_pairs pins the
    # (id, fingerprint) frame with a localCheckpoint, so the Arrow
    # simhash pass runs exactly once regardless of plan branches
    sh = simhash64(docs)
    return _banded_hamming_pairs(
        sh, "doc_id", "simhash", out_a="doc_a", out_b="doc_b",
        n_bands=4, band_bits=15, max_hamming=max_hamming,
        band_cap=band_cap, exact_pairs=exact_pairs,
    )
