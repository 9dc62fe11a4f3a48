"""Fetch-path corpus layout (io/corpus_layout): engine parity with the
flat corpus, plan-level pushdown proof, and metadata-level row-group
skipping proof."""

import pathlib
import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def layout_dir(spark, tiny_fixtures):
    from ccrawler_spark.fixtures.gen import ensure_corpus_layout

    return str(ensure_corpus_layout(spark, tiny_fixtures))


def _run(spark, fdir, rounds=3, corpus_layout=None):
    from ccrawler_spark.scheduler.cli import make_engine

    out = tempfile.mkdtemp(prefix="layout-parity-")
    engine, store = make_engine(
        spark, str(fdir), out, size="tiny", corpus_layout=corpus_layout
    )
    engine.bootstrap(spark.read.parquet(f"{fdir}/seeds.parquet"))
    for r in range(1, rounds + 1):
        engine.run_round(r)
    return store


def _sorted_rows(df):
    return [tuple(r) for r in df.orderBy(*df.columns).collect()]


def test_engine_parity_layout_on_off(spark, tiny_fixtures, layout_dir):
    """The pruned fetch path is purely physical: fetch_log and frontier
    must be byte-identical with and without the layout."""
    s_flat = _run(spark, tiny_fixtures)
    s_lay = _run(spark, tiny_fixtures, corpus_layout=layout_dir)
    n = s_flat.latest()
    assert s_lay.latest() == n
    assert _sorted_rows(s_flat.read_fetch_log(n)) == _sorted_rows(
        s_lay.read_fetch_log(n)
    )
    assert _sorted_rows(s_flat.read_frontier(n)) == _sorted_rows(
        s_lay.read_frontier(n)
    )


def test_pruned_scan_pushes_filters(spark, layout_dir):
    """Plan proof: host_bucket hits PartitionFilters (whole directories
    pruned), host_key/image_id IN lists hit PushedFilters (row-group
    skipping via the sorted layout's min/max stats)."""
    from ccrawler_spark.io.corpus_layout import pruned_corpus

    spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", "4096")
    hosts = [f"h{i}.example" for i in range(12)]  # > default threshold 10
    df = pruned_corpus(spark, layout_dir, buckets=[1, 2, 3], hosts=hosts)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [host_bucket" in plan
    assert "In(host_key" in plan.split("PushedFilters")[1]
    # the id pushdown, on its own scan (the plan string truncates the
    # filter list, so both INs are not visible in one dump)
    ids = [f"{i:016x}" for i in range(12)]
    df2 = pruned_corpus(spark, layout_dir, ids=ids)
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "In(image_id" in plan2.split("PushedFilters")[1]


def test_pruned_values_match_flat(spark, tiny_fixtures, layout_dir):
    """Value proof: pruning by (bucket, host) returns exactly the flat
    corpus rows of those hosts."""
    from ccrawler_spark.functions.hashing import umod, xxhash64_str
    from ccrawler_spark.fixtures.gen import universe_urls_df
    from ccrawler_spark.io.corpus_layout import pruned_corpus

    hosts = ["h0.example", "h7.example"]
    buckets = {umod(xxhash64_str(h), 64) for h in hosts}
    got = pruned_corpus(
        spark, layout_dir, buckets=buckets, hosts=hosts
    ).select("image_id", "fmt", "phash")
    url_map = universe_urls_df(spark, str(tiny_fixtures))
    from ccrawler_spark.functions.spark_exprs import image_id_of

    want_ids = url_map.filter(F.col("host").isin(hosts)).select(
        image_id_of(F.col("url")).alias("image_id")
    )
    flat = spark.read.parquet(f"{tiny_fixtures}/corpus.parquet")
    want = flat.join(want_ids, on="image_id").select(
        "image_id", "fmt", "phash"
    )
    assert _sorted_rows(got) == _sorted_rows(want)


def test_row_group_stats_enable_skipping(spark, tiny_fixtures):
    """Metadata proof: with the clustered sort order, a single host's
    rows concentrate in few row groups — the [min,max] host_key stats
    of most groups exclude it, so a pushed host_key filter skips them.
    The flat corpus (hash order) has no such structure."""
    import pyarrow.parquet as pq

    from ccrawler_spark.fixtures.gen import universe_urls_df
    from ccrawler_spark.functions.spark_exprs import image_id_of
    from ccrawler_spark.io.corpus_layout import (
        host_key_py, write_corpus_layout,
    )

    out = tempfile.mkdtemp(prefix="layout-rg-") + "/layout"
    corpus = spark.read.parquet(f"{tiny_fixtures}/corpus.parquet")
    url_map = universe_urls_df(spark, str(tiny_fixtures)).select(
        image_id_of(F.col("url")).alias("image_id"), "host"
    )
    # tiny rows → tiny row groups so the 1000-row corpus has many
    write_corpus_layout(corpus, url_map, out, row_group_bytes=16 * 1024)
    total, touched = 0, 0
    target = host_key_py("h19.example", 64)  # a tail host, few pages
    for pf in pathlib.Path(out).glob("host_bucket=*/*.parquet"):
        md = pq.ParquetFile(pf).metadata
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.row_group(rg).num_columns)
                if md.row_group(rg).column(i).path_in_schema == "host_key"
            )
            total += 1
            st = col.statistics
            if st.min <= target <= st.max:
                touched += 1
    assert total >= 8  # the knob actually produced many row groups
    assert touched < total  # stats exclude the host from most groups


def test_layout_bucket_mismatch_fails_loudly(spark, tiny_fixtures,
                                             layout_dir):
    """ADVICE r4 (medium): a layout written with a different bucket
    count than conf.host_buckets must be rejected at engine init —
    the mismatched partition filter would otherwise silently drop
    scheduled corpus rows (fetches would look like legitimate misses)."""
    import json
    import shutil

    from ccrawler_spark.conf import CrawlConf
    from ccrawler_spark.io.corpus_layout import META_FILE, read_layout_meta
    from ccrawler_spark.scheduler.cli import make_engine

    meta = read_layout_meta(layout_dir)
    assert meta is not None and meta["buckets"] == 64

    # engine conf with host_buckets != layout buckets → loud failure
    out = tempfile.mkdtemp(prefix="layout-mismatch-")
    with pytest.raises(ValueError, match="host_buckets=32"):
        make_engine(
            spark, str(tiny_fixtures), out,
            conf=CrawlConf(host_buckets=32), corpus_layout=layout_dir,
        )

    # a layout with no metadata sidecar is unverifiable → also loud
    legacy = tempfile.mkdtemp(prefix="layout-legacy-") + "/layout"
    shutil.copytree(layout_dir, legacy)
    (pathlib.Path(legacy) / META_FILE).unlink()
    with pytest.raises(ValueError, match="no _layout_meta"):
        make_engine(
            spark, str(tiny_fixtures), out, size="tiny",
            corpus_layout=legacy,
        )

    # matching bucket count passes (and json is well-formed)
    assert json.loads(
        (pathlib.Path(layout_dir) / META_FILE).read_text()
    )["cluster_keys"] == ["host_bucket", "host_key.bp2", "image_id"]


def test_engine_parity_layout_recrawl(spark, tiny_fixtures, layout_dir):
    """Recrawl mode re-schedules fetched URLs (due predicate); the
    pruned fetch path must stay byte-neutral there too."""
    from ccrawler_spark.conf import CrawlConf
    from ccrawler_spark.scheduler.cli import make_engine

    conf = CrawlConf(round_budget=50, recrawl_interval_micros=90_000_000)
    stores = []
    for lay in (None, layout_dir):
        out = tempfile.mkdtemp(prefix="layout-recrawl-")
        engine, store = make_engine(
            spark, str(tiny_fixtures), out, conf=conf, corpus_layout=lay
        )
        engine.bootstrap(spark.read.parquet(f"{tiny_fixtures}/seeds.parquet"))
        for r in range(1, 4):
            engine.run_round(r)
        stores.append(store)
    flat, lay = stores
    n = flat.latest()
    assert lay.latest() == n
    assert _sorted_rows(flat.read_fetch_log(n)) == _sorted_rows(
        lay.read_fetch_log(n)
    )
    assert _sorted_rows(flat.read_frontier(n)) == _sorted_rows(
        lay.read_frontier(n)
    )


def test_wide_host_split_pruning(spark, tiny_fixtures, layout_dir):
    """Two-scan split (pruned_corpus_split): narrow hosts are read with
    host pruning only, wide hosts are additionally restricted to their
    scheduled ids. Given explicit narrow and wide host sets, the values
    must equal the flat corpus rows of the narrow hosts plus the wide
    host's scheduled ids."""
    from ccrawler_spark.fixtures.gen import universe_urls_df
    from ccrawler_spark.functions.hashing import umod, xxhash64_str
    from ccrawler_spark.functions.spark_exprs import image_id_of
    from ccrawler_spark.io.corpus_layout import pruned_corpus_split

    url_map = universe_urls_df(spark, str(tiny_fixtures)).select(
        image_id_of(F.col("url")).alias("image_id"), "host"
    )
    narrow = {"h5.example", "h19.example"}
    wide = {"h0.example"}  # the Zipf-head host: many pages

    # schedule: 5 specific ids of the wide host + all of the narrow ones
    flat = spark.read.parquet(f"{tiny_fixtures}/corpus.parquet")
    hosted = flat.join(url_map, on="image_id")
    wide_ids = {
        r["image_id"]
        for r in hosted.filter(F.col("host").isin(sorted(wide)))
        .select("image_id").limit(5).collect()
    }
    got = pruned_corpus_split(
        spark, layout_dir, narrow_hosts=narrow, wide_hosts=wide,
        wide_ids=wide_ids,
        buckets_of=lambda h: umod(xxhash64_str(h), 64),
    ).select("image_id", "fmt", "phash")
    want = hosted.filter(
        F.col("host").isin(sorted(narrow))
        | F.col("image_id").isin(sorted(wide_ids))
    ).select("image_id", "fmt", "phash")
    assert _sorted_rows(got) == _sorted_rows(want)
    # and the wide scan's id filter actually restricted the wide host
    n_wide_rows = got.join(
        url_map.filter(F.col("host").isin(sorted(wide))), on="image_id"
    ).count()
    assert n_wide_rows == len(wide_ids)


def test_arrow_scan_matches_jvm_and_flat(spark, tiny_fixtures, layout_dir):
    """Set-based reader (io/arrow_scan): for a (host → ids) schedule,
    pruned_corpus_arrow must return exactly the JVM pruned scan's rows
    for the same hosts and ids, both must equal the flat corpus
    filtered by id, and its schema must match the layout's."""
    from ccrawler_spark.fixtures.gen import universe_urls_df
    from ccrawler_spark.functions.spark_exprs import image_id_of
    from ccrawler_spark.io.arrow_scan import pruned_corpus_arrow
    from ccrawler_spark.io.corpus_layout import pruned_corpus

    url_map = universe_urls_df(spark, str(tiny_fixtures)).select(
        image_id_of(F.col("url")).alias("image_id"), "host"
    )
    pair_rows = url_map.filter(
        F.col("host").isin("h0.example", "h5.example", "h19.example")
    ).limit(40).collect()
    h_ids: dict[str, set] = {}
    for r in pair_rows:
        h_ids.setdefault(r["host"], set()).add(r["image_id"])
    ids = {r["image_id"] for r in pair_rows}
    cols = ["image_id", "fmt", "phash", "host_bucket"]
    a = pruned_corpus_arrow(spark, layout_dir, host_ids=h_ids)
    j = pruned_corpus(spark, layout_dir, hosts=set(h_ids), ids=ids)
    assert _sorted_rows(a.select(*cols)) == _sorted_rows(j.select(*cols))
    # the schema is interchangeable with the JVM layout scan
    assert a.schema == spark.read.parquet(layout_dir).schema
    # end-to-end value proof against the un-laid-out source of truth
    flat = spark.read.parquet(f"{tiny_fixtures}/corpus.parquet")
    want = flat.filter(F.col("image_id").isin(sorted(ids))).select(
        "image_id", "fmt", "phash"
    )
    assert _sorted_rows(a.select("image_id", "fmt", "phash")) == (
        _sorted_rows(want)
    )


def test_sched_metadata_plans_arrow_scan(spark, tiny_fixtures, layout_dir,
                                        monkeypatch):
    """Engine planning: with a layout, a schedule of at most
    ARROW_PUSHDOWN_CAP rows plans the host-scoped arrow scan from one
    (host → ids) collect; above the cap the fetch join reads the layout
    with bucket pruning only and pushes no host or id list."""
    from ccrawler_spark.conf import CrawlConf
    from ccrawler_spark.io import arrow_scan
    from ccrawler_spark.scheduler.cli import make_engine

    out = tempfile.mkdtemp(prefix="arrowplan-")
    conf = CrawlConf(round_budget=8192, per_host_k=64)
    engine, _ = make_engine(spark, str(tiny_fixtures), out, conf=conf,
                            corpus_layout=layout_dir)
    sched = spark.createDataFrame(
        [(f"h{i % 100}.example", f"{i:016x}", i % 64) for i in range(4200)],
        "host string, image_id string, host_bucket int",
    )
    counts, host_ids = engine._sched_metadata(sched)
    assert sum(counts.values()) == 4200
    assert len(host_ids) == 100
    assert sum(len(v) for v in host_ids.values()) == 4200
    df = engine._corpus_side(counts, host_ids)
    assert "image_id" in df.columns and "host_bucket" in df.columns
    # above the arrow cap: bucket pruning only
    monkeypatch.setattr(arrow_scan, "ARROW_PUSHDOWN_CAP", 4100)
    counts2, host_ids2 = engine._sched_metadata(sched)
    assert counts2 == counts and host_ids2 is None
    plan = engine._corpus_side(counts2, None)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PartitionFilters: [" in plan and "host_bucket" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "host_key" not in pushed and "image_id" not in pushed


def test_large_id_schedule_reads_exact_rows(spark, tiny_fixtures,
                                            layout_dir):
    """Regression (drain benchmark, round 4): a small-round schedule of
    3,741 ids — every tiny-universe id plus phantom ids. Pushed as one
    image_id IN list, its parquet Or tree overflowed the JVM stack
    (StackOverflowError from 2,611 ids) in sessions that push IN lists
    as exact value sets. Through _sched_metadata → _corpus_side it must
    read exactly the flat corpus rows of those ids."""
    from ccrawler_spark.conf import CrawlConf
    from ccrawler_spark.fixtures.gen import universe_urls_df
    from ccrawler_spark.functions.spark_exprs import host_bucket, image_id_of
    from ccrawler_spark.scheduler.cli import make_engine

    real = [
        tuple(r) for r in universe_urls_df(spark, str(tiny_fixtures)).select(
            "host", image_id_of(F.col("url")).alias("image_id"),
            host_bucket(F.col("host"), 64).alias("host_bucket"),
        ).collect()
    ]
    host_buckets = sorted({(h, b) for h, _, b in real})
    rows = list(real)
    for i in range(3741 - len(real)):  # phantom ids on real hosts
        h, b = host_buckets[i % len(host_buckets)]
        rows.append((h, f"ffff{i:012x}", b))
    sched = spark.createDataFrame(
        rows, "host string, image_id string, host_bucket int"
    )
    out = tempfile.mkdtemp(prefix="large-ids-")
    engine, _ = make_engine(spark, str(tiny_fixtures), out,
                            conf=CrawlConf(round_budget=4096),
                            corpus_layout=layout_dir)
    key = "spark.sql.parquet.pushdown.inFilterThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try:
        counts, host_ids = engine._sched_metadata(sched)
        got = _sorted_rows(engine._corpus_side(counts, host_ids).select(
            "image_id", "fmt", "phash"
        ))
    finally:
        spark.conf.set(key, prev)
    ids = {i for _, i, _ in rows}
    flat = spark.read.parquet(f"{tiny_fixtures}/corpus.parquet")
    want = sorted(
        tuple(r) for r in flat.select("image_id", "fmt", "phash").collect()
        if r["image_id"] in ids
    )
    assert len(rows) >= 2611 and want
    assert got == want


def test_arrow_scan_soundness_randomized(spark, tiny_fixtures, layout_dir):
    """Property test for the admission logic in io/arrow_scan (bisect
    over footer [min,max] + host-scoped id sets): for ANY schedule
    assembled from real (host → its ids) pairings — plus phantom hosts
    and ids that exist nowhere, hosts with empty id sets, and tiny or
    empty schedules — the pruned arrow read must equal the flat corpus
    filtered by the same id set. Row-group skipping may only remove
    groups that cannot match; hypothesis hunts the off-by-one bisect /
    range-edge cases a fixed schedule would never hit."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from ccrawler_spark.fixtures.gen import universe_urls_df
    from ccrawler_spark.functions.spark_exprs import image_id_of
    from ccrawler_spark.io.arrow_scan import pruned_corpus_arrow

    url_rows = universe_urls_df(spark, str(tiny_fixtures)).select(
        image_id_of(F.col("url")).alias("image_id"), "host"
    ).collect()
    by_host: dict[str, list] = {}
    for r in url_rows:
        by_host.setdefault(r["host"], []).append(r["image_id"])
    hosts_all = sorted(by_host)
    flat = spark.read.parquet(f"{tiny_fixtures}/corpus.parquet")

    def rows(df, ids):
        return sorted(
            tuple(r) for r in df.filter(
                F.col("image_id").isin(sorted(ids)) if ids
                else F.lit(False)
            ).select("image_id", "fmt", "phash").collect()
        )

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(data=st.data())
    def prop(data):
        picked = data.draw(st.lists(
            st.sampled_from(hosts_all), max_size=6, unique=True))
        sched: dict[str, set] = {}
        all_ids: set = set()
        for h in picked:
            ids = set(data.draw(st.lists(
                st.sampled_from(by_host[h]), max_size=8, unique=True)))
            sched[h] = ids
            all_ids |= ids
        # phantom host (bucket may not even have files) + phantom ids:
        # must never admit anything extra, never crash
        if data.draw(st.booleans()):
            sched["no-such-host.invalid"] = {"ffffffffffffffff"}
        if sched and data.draw(st.booleans()):
            k = data.draw(st.sampled_from(sorted(sched)))
            sched[k] = set(sched[k]) | {"0000000000000000"}
        got = sorted(
            tuple(r)
            for r in pruned_corpus_arrow(
                spark, layout_dir, host_ids=sched
            ).select("image_id", "fmt", "phash").collect()
        )
        assert got == rows(flat, all_ids)

    prop()


def test_arrow_scan_statless_footers_admit_everything(spark, tmp_path):
    """VERDICT r6 optional #7: ``admits()``/``admits_scoped()`` must
    KEEP row groups whose column chunks carry no min/max statistics (a
    writer may disable or truncate them) — correctness then rests on
    the residual ``is_in`` filter alone. Hand-builds a layout with
    (a) a file with NO statistics at all and (b) a file with host_key
    stats but no image_id stats (pins the partial-stats branch), three
    rows per group: nothing may be wrongly skipped, and the returned
    rows are exactly the scheduled ids."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ccrawler_spark.io.arrow_scan import pruned_corpus_arrow
    from ccrawler_spark.io.corpus_layout import META_FILE, host_key_py

    buckets = 64
    host = "h0.example"
    k = host_key_py(host, buckets)
    bk = k >> 57
    root = tmp_path / "statless_layout"
    d = root / f"host_bucket={bk}"
    d.mkdir(parents=True)

    def mk(ids, fname, stats):
        tbl = pa.table({
            "image_id": pa.array(ids, pa.string()),
            "fmt": pa.array(["png"] * len(ids), pa.string()),
            "host_key": pa.array([k] * len(ids), pa.int64()),
        })
        pq.write_table(tbl, d / fname, write_statistics=stats,
                       row_group_size=3)

    ids_a = [f"a{i:015x}" for i in range(9)]
    ids_b = [f"b{i:015x}" for i in range(9)]
    mk(ids_a, "part-0.parquet", False)           # no stats anywhere
    mk(ids_b, "part-1.parquet", ["host_key"])    # id stats absent only
    (root / META_FILE).write_text(json.dumps({"buckets": buckets}))

    want = {ids_a[1], ids_a[7], ids_b[4]}
    got = pruned_corpus_arrow(
        spark, str(root), host_ids={host: want}
    ).select("image_id", "fmt", "host_bucket").collect()
    assert sorted(r["image_id"] for r in got) == sorted(want)
    assert all(r["host_bucket"] == bk and r["fmt"] == "png" for r in got)
