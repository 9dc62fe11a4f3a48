"""Deterministic fixture generator (FIXTURES.md; docs/SEMANTICS.md).

Generates, for a size in {tiny, small, bench}:
  hosts.parquet   (host_index:int32, host:string, pages:int64)
  corpus.parquet  (image_id, bytes, w, h, fmt, caption, phash)  [B:15 schema]
  seeds.parquet   (url:string, priority:int32)  — 10% denormalized spellings
  robots.parquet  (host, rules: list<struct<pattern,allow>>, crawl_delay_ms,
                   version)

Everything is a pure function of the canonical URL / host strings via
xxh64 (seed 42), so regeneration is byte-identical and the Spark engine
can recompute the same values JVM-side. The Zipf page allocation is a
closed-form formula (no RNG draw needed — trivially reproducible, which
is the point of FIXTURES.md's seed discipline).
"""

from __future__ import annotations

import os
import pathlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ccrawler_spark.functions.hashing import to_unsigned64, umod, xxhash64_str

from . import corpus as corpus_mod

SIZES = {
    # name: (hosts H, universe target U, n_seeds, rounds)
    "tiny": (20, 1_000, 10, 3),
    "small": (500, 100_000, 100, 5),
    "bench": (10_000, 10_000_000, 1_000, 3),
}

ZIPF_S = 1.2

FIXTURE_ROOT = pathlib.Path(
    os.environ.get("CCRAWLER_FIXTURE_DIR", "/root/repo/.fixtures")
)


def host_name(i: int) -> str:
    return f"h{i}.example"


def page_allocation(H: int, U: int) -> np.ndarray:
    """pages_i = max(1, round(U * w_i / sum(w))), w_i = (i+1)^-s."""
    w = (np.arange(1, H + 1, dtype=np.float64)) ** (-ZIPF_S)
    raw = U * w / w.sum()
    return np.maximum(1, np.round(raw)).astype(np.int64)


def universe_urls(H: int, pages: np.ndarray):
    """Yield every canonical URL, host-major then page order."""
    for i in range(H):
        hn = host_name(i)
        for j in range(int(pages[i])):
            yield f"http://{hn}/p/{j}"


def denormalize(url: str) -> str:
    """A denormalized spelling that canonicalizes back to ``url``
    (variant chosen by hash — SEMANTICS.md §2.1 corner cases)."""
    variant = umod(xxhash64_str("denorm|" + url), 4)
    scheme, rest = url.split("://", 1)
    host, path = rest.split("/", 1)
    path = "/" + path
    if variant == 0:
        return f"{scheme}://{host.upper()}{path}"
    if variant == 1:
        return f"{scheme}://{host}:80{path}"
    if variant == 2:
        head, _, last = path.rpartition("/")
        return f"{scheme}://{host}{head}/./{last}#frag"
    return f"{scheme}://{host}{path.replace('p', '%70', 1)}"


def gen_hosts(H: int, pages: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "host_index": pa.array(np.arange(H, dtype=np.int32)),
            "host": pa.array([host_name(i) for i in range(H)]),
            "pages": pa.array(pages),
        }
    )


def gen_seeds(urls: list[str], n_seeds: int) -> pa.Table:
    order = sorted(urls, key=xxhash64_str)  # signed int64 ascending
    chosen = order[:n_seeds]
    spelled = [
        denormalize(u) if i % 10 == 3 else u for i, u in enumerate(chosen)
    ]
    return pa.table(
        {
            "url": pa.array(spelled),
            "priority": pa.array(np.zeros(len(spelled), dtype=np.int32)),
        }
    )


def robots_rules_for(host: str) -> list[dict]:
    if umod(xxhash64_str(host), 10) == 0:
        return [
            {"pattern": "/p/3", "allow": False},
            {"pattern": "/", "allow": True},
        ]
    return [{"pattern": "/", "allow": True}]


def crawl_delay_for(host: str) -> int:
    return 500 + umod(xxhash64_str(host), 4) * 500


def gen_robots(H: int) -> pa.Table:
    hosts = [host_name(i) for i in range(H)]
    rule_type = pa.list_(
        pa.struct([("pattern", pa.string()), ("allow", pa.bool_())])
    )
    return pa.table(
        {
            "host": pa.array(hosts),
            "rules": pa.array([robots_rules_for(h) for h in hosts], type=rule_type),
            "crawl_delay_ms": pa.array(
                [crawl_delay_for(h) for h in hosts], type=pa.int64()
            ),
            "version": pa.array([1] * H, type=pa.int64()),
        }
    )


def gen_corpus(urls: list[str]) -> pa.Table:
    rows = [corpus_mod.corpus_row(u) for u in urls]
    return pa.table(
        {
            "image_id": pa.array([r["image_id"] for r in rows]),
            "bytes": pa.array([r["bytes"] for r in rows], type=pa.binary()),
            "w": pa.array([r["w"] for r in rows], type=pa.int32()),
            "h": pa.array([r["h"] for r in rows], type=pa.int32()),
            "fmt": pa.array([r["fmt"] for r in rows]),
            "caption": pa.array([r["caption"] for r in rows]),
            "phash": pa.array([r["phash"] for r in rows], type=pa.int64()),
        }
    )


def ensure_fixtures(size: str, with_corpus: bool = True) -> pathlib.Path:
    """Generate (if missing) and return the fixture dir for ``size``."""
    H, U, n_seeds, _rounds = SIZES[size]
    out = FIXTURE_ROOT / size
    marker = out / ("_DONE_FULL" if with_corpus else "_DONE")
    if marker.exists() or (out / "_DONE_FULL").exists():
        return out
    out.mkdir(parents=True, exist_ok=True)
    pages = page_allocation(H, U)
    urls = list(universe_urls(H, pages))
    pq.write_table(gen_hosts(H, pages), out / "hosts.parquet")
    pq.write_table(gen_seeds(urls, n_seeds), out / "seeds.parquet")
    pq.write_table(gen_robots(H), out / "robots.parquet")
    if with_corpus:
        pq.write_table(gen_corpus(urls), out / "corpus.parquet")
    marker.touch()
    return out


def ensure_bench_fixtures(spark) -> pathlib.Path:
    """Bench-size fixtures with the 10^6-row corpus synthesized in
    parallel via mapInPandas (0.6 ms/image × 10^6 is a Spark job, not a
    driver loop). Deterministic per row ⇒ parallelism-safe."""
    size = "bench"
    H, U, n_seeds, _rounds = SIZES[size]
    out = FIXTURE_ROOT / size
    if (out / "_DONE_FULL").exists():
        return out
    out.mkdir(parents=True, exist_ok=True)
    pages = page_allocation(H, U)
    pq.write_table(gen_hosts(H, pages), out / "hosts.parquet")
    urls = list(universe_urls(H, pages))
    pq.write_table(gen_seeds(urls, n_seeds), out / "seeds.parquet")
    pq.write_table(gen_robots(H), out / "robots.parquet")

    def synth(batches):
        import pandas as pd

        from ccrawler_spark.fixtures import corpus as corpus_mod

        for pdf in batches:
            rows = [corpus_mod.corpus_row(u) for u in pdf["url"]]
            yield pd.DataFrame(rows)

    urls_df = spark.createDataFrame([(u,) for u in urls], "url string")
    schema = (
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long"
    )
    (
        urls_df.repartition(64)
        .mapInPandas(synth, schema)
        .write.mode("overwrite")
        .parquet(str(out / "corpus.parquet"))
    )
    (out / "_DONE_FULL").touch()
    return out


def universe_urls_df(spark, fdir: str, chunk: int = 50_000):
    """Full-universe canonical URLs (+ host) from hosts.parquet,
    balanced for generation.

    Two-level explode: hosts.parquet is one file → one input split, so
    a direct 10M-row generate runs (and feeds the downstream shuffle
    from) a single task — a measured 49 s straggler at local[32]; and
    the Zipf head host alone is 2M pages, so spreading by host is not
    enough. Explode 50k-page chunks first, shuffle the (host, chunk)
    pairs, then explode pages within each chunk."""
    from pyspark.sql import functions as F

    hosts = spark.read.parquet(f"{fdir}/hosts.parquet")
    chunks = hosts.select(
        "host", "pages",
        F.explode(
            F.sequence(F.lit(0), ((F.col("pages") - 1) / chunk).cast("long"))
        ).alias("c"),
    ).repartition(spark.sparkContext.defaultParallelism * 4)
    return chunks.select(
        "host",
        F.explode(
            F.sequence(
                F.col("c") * chunk,
                F.least(F.col("pages") - 1, (F.col("c") + 1) * chunk - 1),
            )
        ).alias("j"),
    ).select(
        F.concat(F.lit("http://"), F.col("host"), F.lit("/p/"),
                 F.col("j").cast("string")).alias("url"),
        "host",
    )


def ensure_corpus_layout(spark, fdir) -> pathlib.Path:
    """Fetch-path corpus layout for a fixture dir (io/corpus_layout):
    one-time indexing job, cached next to the fixtures. The
    (image_id → host) map is recomputed from the URL universe — in a
    real crawl store the fetcher records the source host with every
    payload, so this join is fixture plumbing, not operator cost."""
    from pyspark.sql import functions as F

    from ccrawler_spark.functions.spark_exprs import image_id_of
    from ccrawler_spark.io.corpus_layout import write_corpus_layout

    import shutil

    from ccrawler_spark.io.corpus_layout import CLUSTER_KEYS, read_layout_meta

    fdir = pathlib.Path(fdir)
    out = fdir / "corpus_layout"
    if (fdir / "_LAYOUT_DONE").exists():
        meta = read_layout_meta(str(out))
        if (meta is not None and meta.get("buckets") == 64
                and meta.get("cluster_keys") == CLUSTER_KEYS):
            return out
        # stale cache (pre-metadata, or clustered on old keys): rebuild
        (fdir / "_LAYOUT_DONE").unlink()
        shutil.rmtree(out, ignore_errors=True)
    corpus = spark.read.parquet(str(fdir / "corpus.parquet"))
    urls = universe_urls_df(spark, str(fdir))
    url_map = urls.select(
        image_id_of(F.col("url")).alias("image_id"), "host"
    )
    write_corpus_layout(corpus, url_map, str(out))
    (fdir / "_LAYOUT_DONE").touch()
    return out


if __name__ == "__main__":
    import sys

    size = sys.argv[1] if len(sys.argv) > 1 else "tiny"
    p = ensure_fixtures(size)
    print(f"fixtures for {size} at {p}")
