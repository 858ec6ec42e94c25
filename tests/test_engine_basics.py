from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, gc_until


def test_catalog_loads_all_tables(catalog):
    from dbtwiz_spark.catalog import TABLES

    for t in TABLES:
        df = catalog.table(t)
        assert df.count() > 0, t


def test_events_ts_is_microsecond_timestamp(catalog):
    from pyspark.sql.types import TimestampType

    ev = catalog.table("events")
    assert isinstance(ev.schema["ts"].dataType, TimestampType)
    mn, mx = ev.agg(F.min("ts"), F.max("ts")).first()
    assert mn.year == 2024 and mx.year == 2024


def test_require_partition_filter_rejects_unfiltered(spark, catalog):
    from dbtwiz_spark.plans import MissingPartitionFilter, require_partition_filter

    ev = catalog.table("events").withColumn("partitiondate", F.date_trunc("day", "ts"))
    with pytest.raises(MissingPartitionFilter):
        require_partition_filter(ev.groupBy("event_type").count(), "partitiondate")
    ok = ev.filter(F.col("partitiondate") == "2024-01-05").groupBy("event_type").count()
    require_partition_filter(ok, "partitiondate")  # no raise


def test_sort_within_partitions_clusters_rows(spark):
    from dbtwiz_spark.ops.sorts import sort_within_partitions

    df = sort_within_partitions(spark, SF_DIR)

    def check(it):
        rows = list(it)
        keys = [(r.l_returnflag, r.l_shipdate, r.l_orderkey) for r in rows]
        assert keys == sorted(keys)
        yield from ()

    df.rdd.mapPartitions(check).count()


def test_multimodal_feature_extraction(spark, catalog):
    from dbtwiz_spark.multimodal import extract_features, frame_sample

    payloads = catalog.table("documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    feats = extract_features(payloads)
    row = feats.orderBy("doc_id").first()
    assert row.payload_bytes > 0 and 0 <= row.first_byte < 256
    # text payloads are not byte-math-decodable images: geometry is NULL
    assert row.width is None and row.height is None
    frames = frame_sample(payloads.limit(5), every_ms=100)
    assert frames.count() >= 5


def test_media_ops_reject_nonbinary_payload_at_plan_time(spark):
    """extract_features/resize_images fail at PLAN-BUILD time, with the
    column and offending type named, when the payload column is missing
    or mistyped — an explicit TypeError, not an `-O`-strippable assert,
    and never an opaque executor-side Arrow serialization error."""
    import pytest as _pytest

    from dbtwiz_spark.multimodal import extract_features, resize_images

    mistyped = spark.createDataFrame(
        [(1, "not-bytes")], "doc_id LONG, payload STRING"
    )
    with _pytest.raises(TypeError, match="extract_features.*got string"):
        extract_features(mistyped)
    with _pytest.raises(TypeError, match="resize_images.*got string"):
        resize_images(mistyped, 2, 2)
    missing = spark.createDataFrame([(1,)], "doc_id LONG")
    with _pytest.raises(TypeError, match="no such column"):
        extract_features(missing)


def test_extract_features_real_geometry_for_decodable_images(spark):
    """extract_features surfaces REAL decoded width/height for BMP/PPM
    payloads (header-only parse) as plan-level columns, NULL for
    payloads that merely sniff like an image but don't parse — a
    min-resolution gate is then an ordinary Catalyst filter."""
    from dbtwiz_spark.multimodal import extract_features

    bmp = _hand_bmp(3, 2, [[(1, 2, 3)] * 3] * 2)
    ppm = b"P6\n4 5\n255\n" + bytes(4 * 5 * 3)
    df = spark.createDataFrame(
        [
            (1, bytearray(bmp)),
            (2, bytearray(ppm)),
            (3, bytearray(b"BM\x00\x01")),  # sniffs BMP, truncated
            (4, bytearray(b"plain text")),
        ],
        "doc_id LONG, payload BINARY",
    )
    out = {r.doc_id: r for r in extract_features(df).collect()}
    assert (out[1].width, out[1].height) == (3, 2)
    assert (out[2].width, out[2].height) == (4, 5)
    assert out[3].width is None and out[3].height is None
    assert out[4].width is None and out[4].height is None
    gated = extract_features(df).filter("width >= 4 AND height >= 4")
    assert [r.doc_id for r in gated.collect()] == [2]


def test_configure_for_media_bounds_arrow_batches(spark):
    """configure_for_media caps Arrow records-per-batch (the per-task
    resident set for multi-MB payload batches), returns the replaced
    conf for restoration, and the operators run correctly under the
    capped batching (more, smaller batches — same rows out)."""
    from dbtwiz_spark.multimodal import configure_for_media, extract_features

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key, None)
    old = configure_for_media(spark, max_records_per_batch=3)
    try:
        assert spark.conf.get(key) == "3"
        assert old == {key: before}
        df = spark.createDataFrame(
            [(i, bytearray(b"x" * (10 + i))) for i in range(10)],
            "doc_id LONG, payload BINARY",
        ).coalesce(1)  # one partition -> the cap forces multiple batches
        out = extract_features(df).collect()
        assert len(out) == 10
        assert {r.payload_bytes for r in out} == set(range(10, 20))
    finally:
        if old[key] is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old[key])


def test_extract_features_duration_for_media_payloads(spark):
    """duration_ms (round 13): header-derived media duration for WAV
    (byte math) and MP4 (mvhd), NULL for images/text — so a max-length
    media gate is a plan-level Catalyst filter, like the geometry
    rider. The oracle for the text-payload corpus entry mirrors the
    NULLs."""
    from dbtwiz_spark.multimodal import extract_features

    wav = _make_wav(250)  # 250 ms @ 8 kHz mono 16-bit
    mp4 = _hand_mp4()  # 10 x 100 media units @ timescale 1000 = 1000 ms
    bmp = _hand_bmp(3, 2, [[(1, 2, 3)] * 3] * 2)
    df = spark.createDataFrame(
        [
            (1, bytearray(wav)),
            (2, bytearray(mp4)),
            (3, bytearray(bmp)),
            (4, bytearray(b"plain text")),
        ],
        "doc_id LONG, payload BINARY",
    )
    out = {r.doc_id: r for r in extract_features(df).collect()}
    assert out[1].duration_ms == 250
    assert out[1].width is None and out[1].height is None
    assert out[2].duration_ms == 1000
    assert (out[2].width, out[2].height) == (640, 360)
    assert out[3].duration_ms is None  # image: geometry only
    assert (out[3].width, out[3].height) == (3, 2)
    assert out[4].duration_ms is None
    gated = extract_features(df).filter("duration_ms <= 500")
    assert [r.doc_id for r in gated.collect()] == [1]


def test_decode_image_header_only_parse():
    """with_pixels=False returns geometry without materializing the
    pixel buffer, but keeps FULL validation — a payload whose pixel
    data is shorter than the header claims must still raise."""
    import pytest as _pytest

    from dbtwiz_spark.multimodal import decode_image

    bmp = _hand_bmp(3, 2, [[(9, 9, 9)] * 3] * 2)
    img = decode_image(bmp, with_pixels=False)
    assert (img["width"], img["height"], img["n_channels"]) == (3, 2, 3)
    assert "pixels" not in img
    ppm = b"P6\n2 1\n255\n" + bytes(6)
    img = decode_image(ppm, with_pixels=False)
    assert (img["width"], img["height"]) == (2, 1)
    assert "pixels" not in img
    for truncated in (bmp[:-3], ppm[:-3]):
        with _pytest.raises(NotImplementedError):
            decode_image(truncated, with_pixels=False)


def test_multimodal_decode_stubs_raise(spark):
    from dbtwiz_spark.multimodal import decode_audio, decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")
    with pytest.raises(NotImplementedError):
        decode_audio(b"RIFF")


def test_partition_filter_guard_binds_to_relation(spark, tmp_path):
    """A filter on a JOINED table's same-named column must not satisfy the
    partition-filter guard for the fact table (attribute-id binding)."""
    from pyspark.sql import functions as F

    from dbtwiz_spark.plans import has_partition_filter

    fact = spark.range(10).withColumn("partitiondate", F.lit("2024-01-01"))
    dim = spark.range(3).withColumnRenamed("id", "did").withColumn(
        "partitiondate", F.lit("2024-01-01")
    )
    fact.write.mode("overwrite").parquet(str(tmp_path / "fact"))
    dim.write.mode("overwrite").parquet(str(tmp_path / "dim"))
    f = spark.read.parquet(str(tmp_path / "fact"))
    d = spark.read.parquet(str(tmp_path / "dim")).filter(
        F.col("partitiondate") == "2024-01-01"
    )
    joined = f.join(d, f.id == d.did)
    assert not has_partition_filter(joined, "partitiondate")
    both = f.filter(F.col("partitiondate") == "2024-01-01").join(d, f.id == d.did)
    assert has_partition_filter(both, "partitiondate")


def test_partition_filter_guard_follows_alias_chain(spark, tmp_path):
    """SELECT partitiondate AS pd ... WHERE pd = ... filters a NEW exprId;
    the guard must chase the alias back to the base relation's attribute
    instead of rejecting a plan Catalyst would actually prune."""
    from pyspark.sql import functions as F

    from dbtwiz_spark.plans import has_partition_filter

    spark.range(10).withColumn("partitiondate", F.lit("2024-01-01")).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "aft"))
    f = spark.read.parquet(str(tmp_path / "aft"))
    aliased = f.select("id", F.col("partitiondate").alias("pd")).filter(
        F.col("pd") == "2024-01-01"
    )
    assert has_partition_filter(aliased, "partitiondate")
    # a filter on a DIFFERENT aliased column must still be rejected
    other = f.select(F.col("id").alias("i2"), "partitiondate").filter(
        F.col("i2") == 3
    )
    assert not has_partition_filter(other, "partitiondate")


def _cached(df) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def _persistent_rdds(spark) -> set:
    """Ids of the RDDs holding stored blocks. Read through RDDInfo, which
    carries no RDD reference: ``getPersistentRDDs()`` hands Python a map
    of the RDDs themselves, and PySpark releases that JVM object
    asynchronously, so each probe kept the RDD it looked for alive
    through the next JVM GC and the eviction tests waited 5-30 s (past
    two minutes on a loaded host)."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_parallel_rank_memoizes_persisted_input(spark):
    """A parallel_rank output memoized with ``Catalog.artifact`` is built
    once and then served as the SAME DataFrame — corpus sweeps and bench
    passes call win-percent / agg-gini-concentration dozens of times per
    session, and a rebuild per call would store a fresh copy each time.
    One artifact stores exactly one table (the truncated range stage),
    its plan is a projection over that table with no offset join and no
    cache, and the table is freed once the memo and every other
    reference to the artifact are gone."""
    from dbtwiz_spark.catalog import Catalog
    from dbtwiz_spark.ops.common import parallel_rank

    cat = Catalog(spark, SF_DIR)
    builds = []

    def build():
        builds.append(1)
        df = spark.range(100).withColumn("k", F.col("id") % 7)
        return parallel_rank(df, [F.col("k"), F.col("id")])

    before = _persistent_rdds(spark)
    r1 = cat.artifact("test-rank:k,id", build)
    (stored,) = _persistent_rdds(spark) - before
    r2 = cat.artifact("test-rank:k,id", build)
    assert r2 is r1 and len(builds) == 1, "second call must hit the memo"
    assert _persistent_rdds(spark) - before == {stored}
    plan = r1._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan and "InMemoryRelation" not in plan, plan
    # ranks are a unique total order 1..n
    assert sorted(row._rank for row in r2.collect()) == list(range(1, 101))
    assert cat.clear_memos() == 1
    assert not cat._artifacts
    del r1, r2
    assert gc_until(spark, lambda: stored not in _persistent_rdds(spark))


def test_iterative_graph_entries_memoize_their_result(spark, monkeypatch):
    """HITS, k-core and connected components each keep ONE memo, their
    result: the edge lists only they read and every half-step or round
    are built and truncated inside that one build, and Spark frees them
    once it returns. On a fresh catalog (the shared ``pr_edges`` input
    built first) each entry adds exactly one memo key, none named by a
    round; a second call serves the same memo object with identical
    rows; and after a JVM GC the stored RDDs the entries added are one
    per memo."""
    from dbtwiz_spark.catalog import Catalog
    from dbtwiz_spark.ops import common
    from dbtwiz_spark.ops import graphs as G
    from dbtwiz_spark.ops.registry import CORPUS

    cat = Catalog(spark, SF_DIR)
    monkeypatch.setitem(common._CATALOGS, (spark, SF_DIR), cat)
    try:
        G._pr_edges(cat)
        before = _persistent_rdds(spark)
        keys = set(cat._artifacts)
        for name in ("graph-hits", "graph-k-core", "graph-connected-components"):
            rows = sorted(map(tuple, CORPUS[name].fn(spark, SF_DIR).collect()))
            added = set(cat._artifacts) - keys
            assert len(added) == 1, f"{name} added memos {sorted(added)}"
            (key,) = added
            assert not any(ch.isdigit() for ch in key), key
            keys.add(key)
            memo = cat._artifacts[key]
            again = sorted(map(tuple, CORPUS[name].fn(spark, SF_DIR).collect()))
            assert set(cat._artifacts) == keys, f"{name} second call added memos"
            assert cat._artifacts[key] is memo, f"{name} rebuilt its memo"
            assert again == rows
        del memo
        assert gc_until(spark, lambda: len(_persistent_rdds(spark) - before) == 3), (
            f"stored RDDs added: {len(_persistent_rdds(spark) - before)}, memos: 3"
        )
    finally:
        cat.clear_memos()


def test_parallel_rank_memo_separates_scale_dirs(spark, tmp_path):
    """Two scale dirs running the same entry must NOT share a memo slot —
    a cross-scale sweep would otherwise serve the wrong scale's cached
    ranks (caught live: an sf0.1 run leaked 1462 rows into the sf0.01
    oracle sweep). Each scale dir has its own catalog, and the same kind
    misses across catalogs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbtwiz_spark.catalog import Catalog
    from dbtwiz_spark.ops.common import parallel_rank

    cats = []
    for i, n in enumerate((7, 19)):
        d = tmp_path / f"d{i}"
        d.mkdir()
        pq.write_table(
            pa.table({"c_custkey": list(range(n))}), str(d / "customer.parquet")
        )
        cats.append(Catalog(spark, str(d)))
    keys = [F.col("c_custkey")]
    got = [
        c.artifact(
            "test-rank:c_custkey",
            lambda c=c: parallel_rank(c.table("customer"), keys),
        ).count()
        for c in cats
    ]
    assert got == [7, 19]
    for c in cats:
        assert c.clear_memos() == 1


def _check_in_place_rewrite_flips_stamp(spark, tmp_path, write):
    """Build a rank artifact on ``write(5)``'s customer table, rewrite the
    same backing file(s) in place with ``write(9)``, and check the stamp
    flips and a fresh catalog serves the NEW rows."""
    from dbtwiz_spark.catalog import Catalog
    from dbtwiz_spark.ops.common import parallel_rank

    write(5)
    keys = [F.col("c_custkey")]

    def ranked(cat):
        return cat.artifact(
            "test-rank:c_custkey",
            lambda: parallel_rank(cat.table("customer"), keys),
        )

    old = Catalog(spark, str(tmp_path))
    assert ranked(old).count() == 5
    assert old.is_current()
    write(9)
    assert not old.is_current(), "in-place rewrite must flip the stamp"
    old.release()
    assert old.clear_memos() == 0

    new = Catalog(spark, str(tmp_path))
    assert new._generation != old._generation
    got = ranked(new)
    assert got.count() == 9
    assert sorted(r._rank for r in got.collect()) == list(range(1, 10))
    new.release()


def test_generation_stamp_changes_on_in_place_file_overwrite(spark, tmp_path):
    """A backing file OVERWRITTEN IN PLACE — same path, new rows, the
    standard re-run-writer rewrite — keeps the path set identical, so a
    path-only key would keep serving the superseded artifact. The
    catalog's generation stamp folds in (size, mtime_ns) per table file:
    the rewrite must flip it, and a catalog built on the new generation
    must serve the NEW rows, not the old catalog's memoized ranks."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "customer.parquet")
    _check_in_place_rewrite_flips_stamp(
        spark, tmp_path,
        lambda n: pq.write_table(pa.table({"c_custkey": list(range(n))}), path),
    )


def test_generation_stamp_changes_on_in_place_partition_overwrite(spark, tmp_path):
    """The same for a hive-partitioned DIRECTORY table: rewriting one part
    file inside a ``key=value/`` subdirectory changes neither the table
    directory's nor the subdirectory's own stat, so the stamp must cover
    every file under the table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    part = tmp_path / "customer.parquet" / "c_region=b"
    part.mkdir(parents=True)
    (part.parent / "c_region=a").mkdir()
    pq.write_table(pa.table({"c_custkey": [0]}),
                   str(part.parent / "c_region=a" / "part-0.parquet"))

    def write(n):
        # rows 1..n-1 live in the c_region=b part file, rewritten in place
        pq.write_table(pa.table({"c_custkey": list(range(1, n))}),
                       str(part / "part-0.parquet"))

    _check_in_place_rewrite_flips_stamp(spark, tmp_path, write)


def test_generation_stamp_survives_percent_encoded_paths(spark, tmp_path):
    """Spark percent-encodes spaces and specials in file URIs; a stamp
    taken from those URIs fails to stat and degrades every such file to
    "missing", so two GENERATIONS of a table in a space-named scale dir
    would compare equal and reopen the in-place-overwrite hole. The
    catalog stamps the plain paths: the stats must be real for such a
    dir, and an in-place rewrite must flip them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbtwiz_spark.catalog import TABLES, Catalog

    d = tmp_path / "scale dir 0.01"
    d.mkdir()
    path = str(d / "customer.parquet")
    pq.write_table(pa.table({"c_custkey": list(range(5))}), path)
    cat = Catalog(spark, str(d))
    assert any("%20" in u for u in cat.table("customer").inputFiles()), (
        "fixture no longer exercises percent-encoding"
    )
    stamp = cat._generation[TABLES.index("customer")]
    assert stamp is not None, "space-named path failed to stat"
    assert cat.is_current()
    pq.write_table(pa.table({"c_custkey": list(range(9))}), path)
    assert not cat.is_current()
    assert Catalog(spark, str(d))._generation[TABLES.index("customer")] != stamp


def test_catalog_replaced_after_in_place_table_rewrite(spark, tmp_path):
    """A table file rewritten IN PLACE (same path, new rows — the standard
    re-run-writer rewrite) must never be served from anything cached on
    the old file: views() re-stats the tables, releases the old catalog's
    primed tables and artifacts, and returns a new catalog whose
    artifacts and primed tables are built from the new rows. Spark's
    CacheManager matches cached data by plan, so a still-cached old
    generation would be served to a brand-new read of the same path; the
    scale dir's name has a space, which Spark percent-encodes in file
    URIs, so the stamp must come from the plain paths."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from dbtwiz_spark.ops.common import _truncate, views
    from dbtwiz_spark.ops.windows import win_percent

    d = tmp_path / "scale dir 0.01"
    shutil.copytree("/root/testdata/sf0.01", d)
    sf = str(d)

    def customer_keys(cat):
        return cat.artifact(
            "test-graph:customer_keys",
            lambda: _truncate(cat.table("customer").select("c_custkey")),
        )

    old = views(spark, sf)
    old.prime(("customer", "orders"))
    # a table above the 128 KiB split size is cut into one cached
    # partition per split, capped at the context's default parallelism
    orders_size = os.path.getsize(d / "orders.parquet")
    assert orders_size > 128 * 1024
    assert old.table("orders").rdd.getNumPartitions() == min(
        spark.sparkContext.defaultParallelism, orders_size // (128 * 1024)
    )
    primed = old.table("customer")
    n_old = primed.count()
    assert customer_keys(old).count() == n_old
    assert win_percent(spark, sf).count() == n_old
    assert _cached(primed)

    path = str(d / "customer.parquet")
    table = pq.read_table(path)
    pq.write_table(table.slice(n_old // 3, n_old // 2), path)
    n_new = n_old // 2

    new = views(spark, sf)
    assert new is not old, "rewritten table must replace the catalog"
    assert not _cached(primed), "old primed table must be unpersisted"
    assert old.clear_memos() == 0, "old artifacts must be released"
    assert views(spark, sf) is new, "an unchanged generation keeps its catalog"

    ranked = win_percent(spark, sf)
    assert ranked.count() == n_new
    assert customer_keys(new).count() == n_new
    new.prime(("customer",))
    assert new.table("customer").count() == n_new
    assert {r.c_custkey for r in new.table("customer").collect()} == {
        r.c_custkey for r in customer_keys(new).collect()
    }
    new.release()


def test_clear_session_memos_evicts_every_registered_store(spark):
    """The eviction hook: one call unpersists and drops every artifact of
    every live catalog — rank tables, graph edge artifacts, ANN indexes,
    pipeline derived tables — so a long-lived session sweeping many
    scales is bounded by one sweep's working set, not session lifetime."""
    from dbtwiz_spark.ops.common import clear_session_memos, parallel_rank, views

    small = views(spark, SF_DIR)
    other = views(spark, "/root/testdata/sf0.01")
    df = spark.range(50).withColumn("k", F.col("id") % 3)
    before = _persistent_rdds(spark)
    ranked = small.artifact(
        "test-rank:k,id", lambda: parallel_rank(df, [F.col("k"), F.col("id")])
    )
    (stored,) = _persistent_rdds(spark) - before
    assert ranked.count() == 50

    def edges():
        return spark.range(5).withColumn("d", F.lit(1)).persist()

    built = other.artifact("test-edges", edges)
    assert built.count() == 5
    assert _cached(built)

    assert clear_session_memos() >= 2
    assert not small._artifacts and not other._artifacts
    assert not _cached(built)
    del ranked
    assert gc_until(spark, lambda: stored not in _persistent_rdds(spark))
    # next call transparently rebuilds
    assert other.artifact("test-edges", edges).count() == 5
    # the catalog surface returns the drop count too
    assert other.clear_memos() == 1
    assert not other._artifacts


def test_clear_session_memos_unpersists_every_tuple_element(spark):
    """ivf_index's artifact is an (assignments, centroids, cents_row)
    3-tuple; eviction that unpersists only the LAST element leaks the
    corpus-sized assignments and the centroid table per sweep — the
    exact cross-sweep accumulation the hook exists to prevent. Every
    tuple element with an unpersist method must be freed."""
    from dbtwiz_spark.ops.common import clear_session_memos, views

    a = spark.range(11).persist()
    b = spark.range(12).persist()
    c = spark.range(13).persist()
    for df in (a, b, c):
        df.count()  # materialize so storageLevel reflects a real cache
    cat = views(spark, SF_DIR)
    cat.artifact("test-ivf", lambda: (a, b, c))
    clear_session_memos()
    for df in (a, b, c):
        assert not _cached(df)
    assert not cat._artifacts


def test_rank_output_correct_after_memo_eviction(spark):
    """A lazy DataFrame built on a parallel_rank or parallel_prefix_sum
    artifact and retained across clear_session_memos() must stay CORRECT
    when executed afterwards, whatever the session's exchange reuse says:
    the consumer reads the device's truncated stage, whose one stored
    boundary sample outlives the memo entry. Pinned as the output
    invariant (dense, unique 1..n ranks; a running count of ones equal
    to them) with spark.sql.exchange.reuse off."""
    from dbtwiz_spark.ops.common import (
        clear_session_memos,
        parallel_prefix_sum,
        parallel_rank,
        views,
    )

    cat = views(spark, SF_DIR)
    prior = spark.conf.get("spark.sql.exchange.reuse")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        for trial in range(3):
            df = spark.range(50_000).withColumn(
                "k", (F.col("id") * 2654435761 + trial) % 999983
            ).withColumn("one", F.lit(1))
            keys = [F.col("k"), F.col("id")]
            ranked = cat.artifact(
                f"test-rank-evict{trial}:k,id",
                lambda df=df: parallel_rank(df, keys),
            )
            summed = cat.artifact(
                f"test-prefix-evict{trial}:k,id",
                lambda df=df: parallel_prefix_sum(df, keys, ["one"]),
            )
            got = ranked.agg(
                F.count("*").alias("n"),
                F.min("_rank").alias("lo"),
                F.max("_rank").alias("hi"),
                F.countDistinct("_rank").alias("d"),
                F.max("_n").alias("ntot"),
            )
            cum = summed.agg(
                F.count("*").alias("n"),
                F.min("_cum_one").alias("lo"),
                F.max("_cum_one").alias("hi"),
                F.countDistinct("_cum_one").alias("d"),
            )
            clear_session_memos()  # evict BEFORE the consumers execute
            assert not cat._artifacts
            got, cum = got.first(), cum.first()
            assert (got.n, got.lo, got.hi, got.d, got.ntot) == (
                50_000, 1, 50_000, 50_000, 50_000,
            ), got
            assert (cum.n, cum.lo, cum.hi, cum.d) == (
                50_000, 1, 50_000, 50_000,
            ), cum
    finally:
        spark.conf.set("spark.sql.exchange.reuse", prior)


def _make_wav(ms: int, frame_rate: int = 8000, channels: int = 1) -> bytes:
    import io
    import wave

    n_frames = frame_rate * ms // 1000
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(frame_rate)
        # deterministic sawtooth PCM so the payload is a real signal
        w.writeframes(bytes((i * 7) % 256 for i in range(n_frames * 2 * channels)))
    return buf.getvalue()


def test_decode_audio_real_wav():
    """decode_audio is REAL for PCM WAV (stdlib wave): header params and
    the PCM stream come from the actual bytes, not a fake."""
    from dbtwiz_spark.multimodal import decode_audio

    wav = _make_wav(250)
    a = decode_audio(wav)
    assert a["n_channels"] == 1
    assert a["sample_width"] == 2
    assert a["frame_rate"] == 8000
    assert a["n_frames"] == 2000
    assert a["duration_ms"] == 250
    assert len(a["pcm"]) == 4000  # 2000 frames x 2 bytes


def test_frame_sample_real_wav(spark):
    """frame_sample over a REAL WAV byte column: offsets step the
    header-derived duration (not the byte length), slice sizes are true
    PCM byte math, the final slice is the remainder, and a non-WAV
    payload in the same batch takes the deterministic fake branch with
    the identical schema (VERDICT r9 item 5)."""
    from dbtwiz_spark.multimodal import frame_sample

    wav = _make_wav(250)  # 250 ms @ 8 kHz mono 16-bit = 4000 PCM bytes
    text = b"x" * 350  # non-WAV: fake branch, 3 offsets of 100 "ms"
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(text))],
        "doc_id LONG, payload BINARY",
    )
    rows = {
        (r.doc_id, r.offset_ms): r.payload_bytes
        for r in frame_sample(df, every_ms=100).collect()
    }
    # WAV: 100 ms slices = 800 frames x 2 bytes = 1600; remainder 50 ms
    assert rows[(1, 0)] == 1600
    assert rows[(1, 100)] == 1600
    assert rows[(1, 200)] == 800
    assert (1, 300) not in rows, "offsets must stop at the header duration"
    # the WAV slice sizes reassemble the exact PCM data chunk
    assert rows[(1, 0)] + rows[(1, 100)] + rows[(1, 200)] == 4000
    # non-WAV fake branch unchanged: whole-payload size at each offset
    assert rows[(2, 0)] == rows[(2, 100)] == rows[(2, 200)] == 350
    assert (2, 300) not in rows

    # degenerate rate: frame_rate*every_ms < 1000 clamps to 1 frame per
    # slice — every emitted row must still claim REAL bytes, never 0
    slow = _make_wav(2000, frame_rate=4)  # 8 frames total, 16 bytes PCM
    df2 = spark.createDataFrame([(3, bytearray(slow))], "doc_id LONG, payload BINARY")
    got = frame_sample(df2, every_ms=100).collect()
    assert len(got) == 8  # capped at 8 one-frame slices
    assert all(r.payload_bytes == 2 for r in got), (
        "clamped slices are 1 frame = 2 bytes each, never zero"
    )


def test_bench_probe_pins_and_restores_confs(spark):
    """The bench calibration probes run inside the repo-tuned session;
    _probe_best_of must pin the confs their plans depend on for the
    probe's duration and restore the caller's values after (round-11:
    the pin/restore moved from _calibrate into the shared harness when
    the Spark-overhead companion probe landed — this pins the contract
    for both)."""
    import bench

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        seen: list[str] = []

        def once() -> float:
            seen.append(spark.conf.get("spark.sql.shuffle.partitions"))
            return 0.01

        best = bench._probe_best_of(spark, 2, once)
        assert best == 0.01
        assert seen == ["32", "32", "32"], "probe must run under pinned confs"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7", (
            "caller's conf must be restored after the probe"
        )
    finally:
        # restore the conftest-configured value for the SHARED session —
        # leaving '7' (assert failure) or a hardcoded guess would run
        # every later test under the wrong shuffle partitioning
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_get_spark_keeps_a_reused_sessions_shuffle_partitions(spark):
    """Fetching the shared session without a count must not reset the one
    its creator chose (a CLI call used to switch the whole suite from
    conftest's 4 to the 32 default); an explicit count still applies."""
    from dbtwiz_spark.session import get_spark

    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")
        assert get_spark().conf.get(key) == "7"
        assert get_spark(shuffle_partitions=5).conf.get(key) == "5"
    finally:
        spark.conf.set(key, saved)


def test_warm_replay_compiles_no_generated_classes(spark):
    """The session's codegen class cache holds the bench's read working
    set: replaying the same 21 reads (bench.py's 15 read builders and the
    six non-iterative extras) a second time serves every stage's generated
    classes from the cache. At Spark's default of 100 entries the cache
    thrashes and the second replay recompiles ~300 classes."""
    import random
    from pathlib import Path

    import bench

    from dbtwiz_spark.ops.common import views
    from dbtwiz_spark.session import CODEGEN_CACHE_ENTRIES, codegen_compile_count, get_spark

    assert get_spark().conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    reads = [n for n in bench.QUERIES if n != "q_insert_overwrite"] + [
        "q_sliding_distinct",
        "q_rolling_corr",
        "q_ks_test",
        "q_survival_km",
        "q_holt_winters",
        "q_bootstrap_ci",
    ]
    builders = {**bench.QUERIES, **bench.EXTRA_QUERIES}
    cat = views(spark, str(Path(SF_DIR).with_name("sf0.01")))

    def replay() -> int:
        before = codegen_compile_count(spark)
        for name in reads:
            df, action = builders[name](cat)
            if action == "collect":
                df.collect()
            else:
                df.write.format("noop").mode("overwrite").save()
        return codegen_compile_count(spark) - before

    # the counter sees a compile: an int literal is inlined into the
    # generated code, so an unseen one needs a new class
    before = codegen_compile_count(spark)
    spark.range(3).select(F.col("id") * random.randrange(1 << 30)).collect()
    assert codegen_compile_count(spark) > before
    try:
        first = replay()
        second = replay()
    finally:
        cat.clear_memos()
    assert second <= 10, f"second replay recompiled {second} classes (first: {first})"


def _hand_bmp(width, height, topdown_rgb_rows, bpp=24, topdown=False):
    """Reference BMP builder, independent of multimodal.encode_bmp: BGR
    channel order, 4-byte row padding, bottom-up unless topdown."""
    import struct

    nch = bpp // 8
    stride = (width * nch + 3) & ~3
    rows = []
    for row in topdown_rgb_rows:
        raw = bytearray()
        for px in row:
            r, g, b = px[:3]
            raw += bytes([b, g, r] + list(px[3:]))
        raw += b"\x00" * (stride - len(raw))
        rows.append(bytes(raw))
    if not topdown:
        rows = rows[::-1]
    data = b"".join(rows)
    h = height if not topdown else -height
    return (
        struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, width, h, 1, bpp, 0, len(data), 0, 0, 0, 0)
        + data
    )


def test_decode_bmp_normalizes_container_quirks():
    """decode_image must hide BMP's bottom-up row order, BGR channel
    order and 4-byte row padding: a 3x2 24-bit file (9-byte rows padded
    to 12) decodes to top-down row-major RGB."""
    from dbtwiz_spark.multimodal import decode_image

    rows = [
        [(255, 0, 0), (0, 255, 0), (0, 0, 255)],
        [(10, 20, 30), (40, 50, 60), (70, 80, 90)],
    ]
    img = decode_image(_hand_bmp(3, 2, rows))
    assert (img["width"], img["height"], img["n_channels"]) == (3, 2, 3)
    expect = bytes(c for row in rows for px in row for c in px)
    assert img["pixels"] == expect


def test_decode_bmp_32bpp_topdown_keeps_alpha():
    from dbtwiz_spark.multimodal import decode_image

    rows = [
        [(1, 2, 3, 200), (4, 5, 6, 201)],
        [(7, 8, 9, 202), (10, 11, 12, 203)],
    ]
    img = decode_image(_hand_bmp(2, 2, rows, bpp=32, topdown=True))
    assert img["n_channels"] == 4
    expect = bytes(c for row in rows for px in row for c in px)
    assert img["pixels"] == expect


def test_decode_ppm_with_comment():
    from dbtwiz_spark.multimodal import decode_image

    payload = b"P6\n# a comment\n2 1\n255\n" + bytes([9, 8, 7, 6, 5, 4])
    img = decode_image(payload)
    assert (img["width"], img["height"], img["n_channels"]) == (2, 1, 3)
    assert img["pixels"] == bytes([9, 8, 7, 6, 5, 4])


def test_encode_bmp_roundtrips_through_decode():
    from dbtwiz_spark.multimodal import decode_image, encode_bmp

    pixels = bytes(range(3 * 5 * 3))  # 5x3 RGB, non-padded-width case
    out = decode_image(encode_bmp(5, 3, pixels))
    assert (out["width"], out["height"], out["pixels"]) == (5, 3, pixels)


def test_undecodable_image_payloads_raise_not_implemented():
    import pytest as _pytest

    from dbtwiz_spark.multimodal import decode_image

    for payload in (
        b"\x89PNG\r\n\x1a\n",          # compressed format: codec absent
        b"BM" + b"\x00" * 20,           # truncated BMP header
        _hand_bmp(2, 2, [[(0, 0, 0)] * 2] * 2)[:-3],  # short pixel data
        b"P6\n2 2\n65535\n" + b"\x00" * 24,  # 2-byte samples unsupported
    ):
        with _pytest.raises(NotImplementedError):
            decode_image(payload)


def _hand_png(width, height, pixels, color_type=2, filters=None, palette=None,
              trns=None):
    """Minimal PNG writer for decoder tests: 8-bit, non-interlaced, one
    IDAT, caller-chosen per-row filter types (FORWARD-filtered here so
    the decoder must actually reconstruct)."""
    import struct
    import zlib

    bpp = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    stride = width * bpp
    filters = filters or [0] * height
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = pixels[y * stride : (y + 1) * stride]
        f = filters[y]
        raw.append(f)
        for x in range(stride):
            a = row[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if f == 0:
                v = row[x]
            elif f == 1:
                v = (row[x] - a) & 0xFF
            elif f == 2:
                v = (row[x] - b) & 0xFF
            elif f == 3:
                v = (row[x] - ((a + b) >> 1)) & 0xFF
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = (row[x] - pr) & 0xFF
            raw.append(v)
        prev = row

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    out = b"\x89PNG\r\n\x1a\n" + chunk(
        b"IHDR", struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    )
    if palette is not None:
        out += chunk(b"PLTE", bytes(palette))
    if trns is not None:
        out += chunk(b"tRNS", bytes(trns))
    return out + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")


def test_decode_png_all_filters_roundtrip():
    """An RGB PNG whose five rows use all five filter types (forward-
    filtered by the test writer) must reconstruct the original pixels
    exactly — Sub/Up/Average/Paeth reconstruction is the part byte
    inspection can't fake."""
    from dbtwiz_spark.multimodal import decode_image

    width, height = 4, 5
    pixels = bytes((x * 37 + y * 11 + c * 5) & 0xFF
                   for y in range(height) for x in range(width) for c in range(3))
    payload = _hand_png(width, height, pixels, filters=[0, 1, 2, 3, 4])
    img = decode_image(payload)
    assert (img["width"], img["height"], img["n_channels"]) == (4, 5, 3)
    assert img["pixels"] == pixels
    hdr = decode_image(payload, with_pixels=False)
    assert (hdr["width"], hdr["height"]) == (4, 5) and "pixels" not in hdr


def test_decode_png_color_types_normalize_to_rgba_contract():
    from dbtwiz_spark.multimodal import decode_image

    # gray -> RGB
    g = bytes([10, 200, 30, 40])
    img = decode_image(_hand_png(2, 2, g, color_type=0, filters=[4, 2]))
    assert img["n_channels"] == 3
    assert img["pixels"] == bytes(v for v in g for _ in range(3))
    # gray+alpha -> RGBA
    ga = bytes([10, 255, 200, 128])
    img = decode_image(_hand_png(2, 1, ga, color_type=4, filters=[1]))
    assert img["n_channels"] == 4
    assert img["pixels"] == bytes([10, 10, 10, 255, 200, 200, 200, 128])
    # RGBA passes through with alpha preserved
    rgba = bytes(range(16))
    img = decode_image(_hand_png(2, 2, rgba, color_type=6, filters=[3, 4]))
    assert img["n_channels"] == 4 and img["pixels"] == rgba
    # palette -> RGB through PLTE
    pal = [255, 0, 0, 0, 255, 0, 0, 0, 255]
    idx = bytes([2, 0, 1, 2])
    img = decode_image(
        _hand_png(2, 2, idx, color_type=3, filters=[0, 1], palette=pal)
    )
    assert img["n_channels"] == 3
    assert img["pixels"] == bytes(
        [0, 0, 255, 255, 0, 0, 0, 255, 0, 0, 0, 255]
    )


def test_decode_png_unsupported_profiles_raise():
    import struct
    import zlib as _zlib

    import pytest as _pytest

    from dbtwiz_spark.multimodal import decode_image

    def ihdr_png(bit_depth=8, interlace=0):
        def chunk(ctype, data):
            return (
                struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", _zlib.crc32(ctype + data))
            )
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, bit_depth, 2, 0, 0, interlace))
            + chunk(b"IDAT", _zlib.compress(b"\x00\x01\x02\x03"))
            + chunk(b"IEND", b"")
        )

    # 16-bit and Adam7 are SUPPORTED since round 13 — the 16-bit case
    # here still raises, but structurally (the 4-byte IDAT is short for
    # a 1x1 16-bit RGB row); Adam7 on a 1x1 is pass 1 alone and decodes
    with _pytest.raises(NotImplementedError):
        decode_image(ihdr_png(bit_depth=16))
    assert decode_image(ihdr_png(interlace=1))["pixels"] == bytes([1, 2, 3])
    with _pytest.raises(NotImplementedError):  # sub-8-bit depth
        decode_image(ihdr_png(bit_depth=4))
    with _pytest.raises(NotImplementedError):  # unknown interlace method
        decode_image(ihdr_png(interlace=2))
    with _pytest.raises(NotImplementedError):  # truncated inside IDAT
        decode_image(_hand_png(2, 2, bytes(12))[:-24])
    # bare signature (no chunks) stays the canonical guard case
    with _pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n\x1a\n")


def _np_png(arr, interlace=0, color_type=2, trns=None):
    """PNG writer over a numpy (h, w, channels) array — uint8 or uint16
    (big-endian samples), optional Adam7 interlace (each pass emitted as
    its own filter-0 sub-image in pass order), for the round-13 decoder
    paths the byte-list _hand_png writer can't reach."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = arr.shape
    bit_depth = 16 if arr.dtype == np.uint16 else 8
    passes = (
        ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
         (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
        if interlace
        else ((0, 0, 1, 1),)
    )
    raw = bytearray()
    for x0, y0, dx, dy in passes:
        sub = arr[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for row in sub:
            raw.append(0)  # filter type 0
            raw += (
                row.astype(">u2").tobytes()
                if bit_depth == 16
                else row.astype(np.uint8).tobytes()
            )

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    out = b"\x89PNG\r\n\x1a\n" + chunk(
        b"IHDR",
        struct.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, interlace),
    )
    if trns is not None:
        out += chunk(b"tRNS", bytes(trns))
    return out + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")


def test_decode_png_adam7_interlaced():
    """Adam7 (round 13): the seven sub-images must scatter back to the
    exact original raster across geometries that exercise empty passes
    (1x1: pass 1 only), partial passes (3x2, 5x5) and all-seven (9x10).
    The interlaced and non-interlaced encodings of the same array must
    decode identically."""
    import numpy as np

    from dbtwiz_spark.multimodal import decode_image

    rng = np.random.default_rng(11)
    for w, h in ((1, 1), (3, 2), (5, 5), (9, 10), (8, 8)):
        arr = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        flat = decode_image(_np_png(arr))
        woven = decode_image(_np_png(arr, interlace=1))
        assert (woven["width"], woven["height"]) == (w, h)
        assert woven["pixels"] == flat["pixels"] == arr.tobytes()
    # RGBA survives interlace too (4-channel pass strides)
    arr = rng.integers(0, 256, (6, 7, 4)).astype(np.uint8)
    img = decode_image(_np_png(arr, interlace=1, color_type=6))
    assert img["n_channels"] == 4 and img["pixels"] == arr.tobytes()


def test_decode_png_16bit_high_byte_and_trns_precision():
    """16-bit PNGs, RGB and gray, downconvert by HIGH byte (libpng
    strip_16), and a tRNS color key must compare at SOURCE precision:
    two samples that share a high byte but differ in the low byte must
    get different alpha."""
    import struct

    import numpy as np

    from dbtwiz_spark.multimodal import decode_image

    arr = np.array(
        [[[0x1234, 0x0000, 0xFFFF], [0x1200, 0x0000, 0xFFFF]]], np.uint16
    )
    img = decode_image(_np_png(arr))
    assert img["n_channels"] == 3
    assert img["pixels"] == bytes([0x12, 0x00, 0xFF, 0x12, 0x00, 0xFF])
    keyed = decode_image(
        _np_png(arr, trns=struct.pack(">HHH", 0x1234, 0x0000, 0xFFFF))
    )
    assert keyed["n_channels"] == 4
    # only the exact-16-bit match is transparent, not the high-byte twin
    assert keyed["pixels"] == bytes(
        [0x12, 0x00, 0xFF, 0, 0x12, 0x00, 0xFF, 255]
    )
    # 16-bit gray: high byte replicated to RGB; the gray key compares at
    # source precision too (0x0102 and 0x0103 share a high byte)
    gray = np.array([[[0x0102], [0x0103]], [[0x7FFF], [0xFFFF]]], np.uint16)
    img = decode_image(_np_png(gray, color_type=0))
    assert img["n_channels"] == 3
    assert img["pixels"] == bytes([1] * 6 + [0x7F] * 3 + [0xFF] * 3)
    keyed = decode_image(
        _np_png(gray, color_type=0, trns=struct.pack(">H", 0x0102))
    )
    assert keyed["n_channels"] == 4
    assert keyed["pixels"] == bytes(
        [1, 1, 1, 0, 1, 1, 1, 255, 0x7F, 0x7F, 0x7F, 255, 0xFF, 0xFF, 0xFF, 255]
    )
    # 16-bit + Adam7 compose
    rng = np.random.default_rng(5)
    arr = (rng.integers(0, 1 << 16, (5, 9, 3))).astype(np.uint16)
    woven = decode_image(_np_png(arr, interlace=1))
    assert woven["pixels"] == (arr >> 8).astype(np.uint8).tobytes()


def test_decode_png_trns_upgrades_to_rgba():
    """A tRNS chunk on palette/gray/RGB types must surface as a real
    alpha plane (r12 ADVICE: it was silently ignored, so a transparent
    PNG decoded opaque and a resize re-encoded it alpha-less)."""
    import struct

    from dbtwiz_spark.multimodal import decode_image

    # palette: per-index alpha, absent entries opaque
    pal = [255, 0, 0, 0, 255, 0, 0, 0, 255]
    idx = bytes([2, 0, 1, 2])
    img = decode_image(
        _hand_png(2, 2, idx, color_type=3, palette=pal, trns=[0, 128])
    )
    assert img["n_channels"] == 4
    assert img["pixels"] == bytes(
        [0, 0, 255, 255, 255, 0, 0, 0, 0, 255, 0, 128, 0, 0, 255, 255]
    )
    # header-only agrees on the channel count (same chunk walk)
    hdr = decode_image(
        _hand_png(2, 2, idx, color_type=3, palette=pal, trns=[0, 128]),
        with_pixels=False,
    )
    assert hdr["n_channels"] == 4
    # gray: 16-bit sample key, matching pixels transparent
    g = bytes([10, 200, 30, 10])
    img = decode_image(
        _hand_png(2, 2, g, color_type=0, trns=struct.pack(">H", 10))
    )
    assert img["n_channels"] == 4
    assert img["pixels"] == bytes(
        [10, 10, 10, 0, 200, 200, 200, 255, 30, 30, 30, 255, 10, 10, 10, 0]
    )
    # RGB: color key
    rgb = bytes([5, 6, 7, 9, 9, 9])
    img = decode_image(
        _hand_png(2, 1, rgb, color_type=2, trns=struct.pack(">HHH", 9, 9, 9))
    )
    assert img["n_channels"] == 4
    assert img["pixels"] == bytes([5, 6, 7, 255, 9, 9, 9, 0])
    # alpha survives a resize (the PNG re-encode branch)
    from dbtwiz_spark.multimodal import _resize_nearest

    payload, media_type = _resize_nearest(
        decode_image(
            _hand_png(2, 2, idx, color_type=3, palette=pal, trns=[0, 128])
        ),
        4,
        4,
    )
    assert media_type == "image/png"
    assert decode_image(payload)["n_channels"] == 4


def test_decode_png_bounded_inflate_rejects_bombs():
    """A crafted IDAT that inflates past the declared geometry must fail
    WITHOUT materializing the expansion (r12 ADVICE: unbounded
    zlib.decompress of a ~100KB bomb would allocate ~100MB per payload
    before the size check). The 1x1 gray header admits 4 bytes; the
    stream holds 100MB of zeros."""
    import struct
    import zlib

    import pytest as _pytest

    from dbtwiz_spark.multimodal import decode_image

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    bomb = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(100 * 1024 * 1024), 9))
        + chunk(b"IEND", b"")
    )
    assert len(bomb) < 150_000  # the bomb itself is small on the wire
    import tracemalloc

    tracemalloc.start()
    with _pytest.raises(NotImplementedError):
        decode_image(bomb)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert peak < 10 * 1024 * 1024, f"inflate not bounded: peak {peak}"


def test_decoders_reject_allocation_bomb_geometry():
    """Header-claimed geometry is attacker-controlled: a tiny payload
    claiming a huge raster must fail BEFORE the decoder sizes buffers
    from the claim — via the uniform pixel budget (_MAX_PIXELS), the
    PNG 1032:1 inflate-ratio pre-check, and the JPEG blocks-per-
    entropy-byte bound — in BOTH decode modes, so header-only and full
    decode keep agreeing on decodability."""
    import struct
    import tracemalloc
    import zlib

    import pytest as _pytest

    from dbtwiz_spark.multimodal import decode_image

    def png_chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    def png_claim(w, h):
        return (
            b"\x89PNG\r\n\x1a\n"
            + png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + png_chunk(b"IDAT", zlib.compress(bytes(64)))
            + png_chunk(b"IEND", b"")
        )

    def gif_claim(w, h):
        return (
            b"GIF89a" + struct.pack("<HHBBB", w, h, 0x80, 0, 0)
            + bytes(12)  # 4-entry global table
            + b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + bytes([0])
            + bytes([2, 1, 0x4C, 0]) + b"\x3b"
        )

    def jpeg_claim(w, h):
        out = b"\xff\xd8"
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([0]) + bytes([1] * 64)
        out += b"\xff\xc0" + struct.pack(">H", 11) + struct.pack(
            ">BHHB", 8, h, w, 1
        ) + bytes([1, 0x11, 0])
        out += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0, 0, 63, 0])
        return out + bytes(32) + b"\xff\xd9"

    tracemalloc.start()
    # pixel-budget violations fail the GEOMETRY parse — both modes agree
    for payload in (
        png_claim(20000, 20000),
        gif_claim(60000, 60000),   # u16 dims
        jpeg_claim(20000, 20000),
    ):
        with _pytest.raises(NotImplementedError):
            decode_image(payload)
        with _pytest.raises(NotImplementedError):
            decode_image(payload, with_pixels=False)
    # data-sufficiency violations (a claim the payload cannot possibly
    # fill) fail the FULL decode; header-only stops at the entropy
    # boundary by contract, like truncated-IDAT streams
    for payload in (
        png_claim(5000, 5000),     # IDAT can't inflate 1032x to the claim
        jpeg_claim(2000, 2000),    # 62500 blocks vs ~100 entropy bytes
    ):
        with _pytest.raises(NotImplementedError):
            decode_image(payload)
        hdr = decode_image(payload, with_pixels=False)
        assert "pixels" not in hdr
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert peak < 10 * 1024 * 1024, f"bomb guard allocated: peak {peak}"


def test_png_flat_image_near_compression_limit_still_decodes():
    """The 1032:1 pre-check's positive twin: a LEGAL flat-color raster
    compresses within a fraction of a percent of zlib's asymptotic
    ratio — it must decode, not trip the allocation-bomb guard (the
    constant-term margin exists for exactly this case)."""
    import struct
    import zlib

    import numpy as np

    from dbtwiz_spark.multimodal import decode_image

    w = h = 2048  # 12.6 MB raw vs ~13 KB IDAT: ratio ~1000:1
    raw = b"".join(b"\x00" + b"\x00" * (w * 3) for _ in range(h))

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw, 9))
        + chunk(b"IEND", b"")
    )
    assert len(payload) < 64 * 1024
    img = decode_image(payload)
    assert (img["width"], img["height"]) == (w, h)
    px = np.frombuffer(img["pixels"], np.uint8)
    assert px.size == w * h * 3 and not px.any()


def test_mp4_sample_table_counts_bounded_by_box_size(spark):
    """stts/stsz entry counts the box's byte span cannot hold must fail
    the demux (allocation bomb via a 4-byte count field), and
    frame_sample falls back to the fake branch for such payloads."""
    import struct

    import pytest as _pytest

    from dbtwiz_spark.multimodal import frame_sample, parse_mp4

    good = _hand_mp4()
    # stts claims 2^28 entries; the box holds 10
    bomb = good.replace(
        struct.pack(">II", 0, 1) + struct.pack(">II", 10, 100),
        struct.pack(">II", 0, 1 << 28) + struct.pack(">II", 10, 100),
        1,
    )
    assert bomb != good, "fixture no longer matches the stts layout"
    with _pytest.raises(NotImplementedError):
        parse_mp4(bomb)
    df = spark.createDataFrame(
        [(1, bytearray(bomb))], "doc_id LONG, payload BINARY"
    )
    rows = frame_sample(df, every_ms=100).collect()
    assert len(rows) > 0  # fake branch, schema intact
    assert all(r.payload_bytes == len(bomb) for r in rows)


def test_gif_lzw_output_cap():
    """_gif_lzw must stop emitting once max_out is reached — a crafted
    stream can otherwise expand ~4000x before the caller's size slice."""
    from dbtwiz_spark.multimodal import _gif_lzw

    pk = _BitPacker()
    for _ in range(2000):  # (CLEAR,0,0)*: stays at 3-bit codes forever
        pk.put(4, 3)
        pk.put(0, 3)
        pk.put(0, 3)
    out = _gif_lzw(2, pk.done(), max_out=7)
    assert 7 <= len(out) <= 8  # stops within one entry of the cap


class _BitPacker:
    """LSB-first GIF code packer."""

    def __init__(self):
        self.bits = 0
        self.nbits = 0
        self.out = bytearray()

    def put(self, code, size):
        self.bits |= code << self.nbits
        self.nbits += size
        while self.nbits >= 8:
            self.out.append(self.bits & 0xFF)
            self.bits >>= 8
            self.nbits -= 8

    def done(self):
        if self.nbits:
            self.out.append(self.bits & 0xFF)
        return bytes(self.out)


def _gif_lzw_encode(min_code_size, indices):
    """Forward LZW with a CLEAR emitted just before the decoder's code
    size would have to grow — the dictionary still builds (and the
    KwKwK case can occur) but every code fits min_code_size+1 bits, so
    the encoder never has to mirror the decoder's growth timing. The
    growth timing itself is pinned by the hand-traced vector test."""
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    pk = _BitPacker()

    def reset():
        pk.put(clear, code_size)
        return {bytes([i]): i for i in range(clear)}, end + 1

    table, next_code = reset()
    w = b""
    for k in indices:
        wk = w + bytes([k])
        if wk in table:
            w = wk
            continue
        pk.put(table[w], code_size)
        table[wk] = next_code
        next_code += 1
        w = bytes([k])
        if next_code >= (1 << code_size) - 1:
            if w:
                pk.put(table[w], code_size)
                w = b""
            table, next_code = reset()
    if w:
        pk.put(table[w], code_size)
    pk.put(end, code_size)
    return pk.done()


def _hand_gif(width, height, indices, palette, min_code_size=2,
              interlace=False, transparent=None, local_palette=False):
    import struct

    pal = bytes(palette)
    n = 2
    while (1 << n) * 3 < len(pal):
        n += 1
    pal = pal + bytes((1 << n) * 3 - len(pal))
    gflags = (0x80 | (n - 1)) if not local_palette else 0
    out = b"GIF89a" + struct.pack("<HHBBB", width, height, gflags, 0, 0)
    if not local_palette:
        out += pal
    if transparent is not None:
        out += bytes([0x21, 0xF9, 4, 1, 0, 0, transparent, 0])
    iflags = (0x40 if interlace else 0) | (0x80 | (n - 1) if local_palette else 0)
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + bytes([iflags])
    if local_palette:
        out += pal
    data = _gif_lzw_encode(min_code_size, indices)
    out += bytes([min_code_size])
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    return out + b"\x00\x3b"


def _animate_gif(width, height, palette, frames, min_code_size=2):
    """Multi-frame GIF89a: one Graphic Control Extension (delay in
    centiseconds) + image block per frame."""
    import struct

    pal = bytes(palette)
    n = 2
    while (1 << n) * 3 < len(pal):
        n += 1
    pal = pal + bytes((1 << n) * 3 - len(pal))
    out = (
        b"GIF89a"
        + struct.pack("<HHBBB", width, height, 0x80 | (n - 1), 0, 0)
        + pal
    )
    for delay_cs, indices in frames:
        out += bytes([0x21, 0xF9, 4, 0]) + struct.pack("<H", delay_cs)
        out += bytes([0, 0])
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height)
        out += bytes([0, min_code_size])
        data = _gif_lzw_encode(min_code_size, indices)
        for i in range(0, len(data), 255):
            chunk = data[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    return out + b"\x3b"


def test_gif_frames_demux_animation():
    """_gif_frames: per-frame (delay_ms, encoded_bytes) from pure block
    walking — the GIF analogue of parse_mp4's sample tables."""
    import pytest as _pytest

    from dbtwiz_spark.multimodal import _gif_frames

    pal = [255, 0, 0, 0, 255, 0]
    gif = _animate_gif(
        2, 2, pal, [(50, [0, 1, 1, 0]), (30, [1, 0, 0, 1]), (20, [0, 0, 1, 1])]
    )
    frames = _gif_frames(gif)
    assert [d for d, _ in frames] == [500, 300, 200]
    # each frame span: 10 (descriptor) + 1 (min code size) + sub-blocks
    # + 1 (terminator); all three frames encode 4 indices identically
    sizes = {s for _, s in frames}
    assert len(sizes) == 1 and sizes.pop() > 12
    # single-frame _hand_gif output demuxes to one frame, delay 0
    single = _gif_frames(_hand_gif(2, 2, [0, 1, 1, 0], pal))
    assert len(single) == 1 and single[0][0] == 0
    with _pytest.raises(NotImplementedError):
        _gif_frames(b"GIF89a")  # bare signature
    with _pytest.raises(NotImplementedError):
        _gif_frames(gif[:-8])  # truncated inside the last frame


def test_frame_sample_animated_gif_timeline(spark):
    """frame_sample over an animated GIF: every_ms steps report the
    encoded byte size of the frame covering that instant on the delay
    timeline; a static GIF has no timeline and takes the fake branch."""
    from dbtwiz_spark.multimodal import _gif_frames, frame_sample

    pal = [255, 0, 0, 0, 255, 0]
    anim = _animate_gif(
        2,
        2,
        pal,
        [
            (50, [0, 1, 1, 0]),  # 500 ms
            (30, [1, 0, 0, 1]),  # 300 ms
            (20, [0, 0, 1, 1]),  # 200 ms -> total 1000 ms
        ],
    )
    sizes = [s for _, s in _gif_frames(anim)]
    static = _hand_gif(2, 2, [0, 1, 1, 0], pal)
    df = spark.createDataFrame(
        [(1, bytearray(anim)), (2, bytearray(static))],
        "doc_id LONG, payload BINARY",
    )
    rows = {
        (r.doc_id, r.offset_ms): r.payload_bytes
        for r in frame_sample(df, every_ms=400).collect()
    }
    # t=0 -> frame 1; t=400 (inside [0,500)) -> frame 1; t=800 (inside
    # [800,1000)) -> frame 3
    assert rows[(1, 0)] == sizes[0]
    assert rows[(1, 400)] == sizes[0]
    assert rows[(1, 800)] == sizes[2]
    assert (1, 1200) not in rows, "offsets must stop at the timeline end"
    # static GIF: deterministic size-based fake branch
    assert rows[(2, 0)] == len(static)


def test_frame_sample_single_frame_gif_with_delay_fake_branch(spark):
    """A single-frame GIF whose GCE carries a nonzero delay is an image,
    not an animation (round 14): frame_sample must take the fake branch,
    matching extract_features' >=2-frame animation criterion — the two
    previously disagreed (duration_ms NULL but a real sampled timeline)."""
    from dbtwiz_spark.multimodal import extract_features, frame_sample

    pal = [255, 0, 0, 0, 255, 0]
    gif = _animate_gif(2, 2, pal, [(50, [0, 1, 1, 0])])  # 1 frame, 500 ms
    df = spark.createDataFrame(
        [(1, bytearray(gif))], "doc_id LONG, payload BINARY"
    )
    rows = {
        (r.doc_id, r.offset_ms): r.payload_bytes
        for r in frame_sample(df, every_ms=400).collect()
    }
    assert rows == {(1, 0): len(gif)}  # fake branch: whole-payload size
    feats = extract_features(df).collect()[0]
    assert feats.duration_ms is None  # an image, consistently


def _hand_mp3(n_frames=8, pad_frame=None, id3_bytes=0):
    """MPEG-1 Layer III stream, 128 kbps @ 44100 Hz: frame size
    144*128000//44100 = 417 (+1 when the padding bit is set), 26122 us
    per frame. Optionally prefixed with an ID3v2 tag of ``id3_bytes``."""
    out = bytearray()
    if id3_bytes:
        assert id3_bytes < 128
        out += b"ID3" + bytes([4, 0, 0, 0, 0, 0, id3_bytes])
        out += bytes(id3_bytes)
    for i in range(n_frames):
        pad = 1 if i == pad_frame else 0
        size = 144 * 128000 // 44100 + pad
        # sync=FFE, version=3 (MPEG1), layer=1 (III), no protection
        out += bytes([0xFF, 0xFB, 0x90 | (pad << 1), 0x00])
        out += bytes(size - 4)
    return bytes(out)


def _hand_adts(n_frames=5, payload_len=93):
    """ADTS AAC-LC @ 44100 Hz (rate index 4), one raw block per frame
    (1024 samples = 23219 us), explicit 13-bit frame length."""
    out = bytearray()
    for _ in range(n_frames):
        length = 7 + payload_len
        out += bytes(
            [
                0xFF, 0xF1,                      # sync, MPEG-4, layer 00
                (1 << 6) | (4 << 2),             # AAC-LC, rate index 4
                length >> 11,
                (length >> 3) & 0xFF,
                (length & 7) << 5 | 0x1F,
                0xFC,                            # fullness low, 1 block
            ]
        )
        out += bytes(payload_len)
    return bytes(out)


def test_mp3_and_adts_frame_demux():
    """_mp3_frames/_adts_frames: per-frame (duration_us, bytes) from
    header arithmetic alone — bitrate/samplerate indices for MP3, the
    explicit length field for ADTS. ID3v2 tags skipped; trailing
    garbage tolerated; non-Layer-III MPEG raises."""
    import pytest as _pytest

    from dbtwiz_spark.multimodal import _adts_frames, _mp3_frames

    frames = _mp3_frames(_hand_mp3(n_frames=8, pad_frame=3))
    assert len(frames) == 8
    assert all(d == 26122 for d, _ in frames)
    assert [s for _, s in frames] == [417, 417, 417, 418, 417, 417, 417, 417]
    # ID3v2 tag skipped via its syncsafe size
    assert _mp3_frames(_hand_mp3(n_frames=2, id3_bytes=30)) == _mp3_frames(
        _hand_mp3(n_frames=2)
    )
    # trailing garbage ends the walk cleanly
    assert len(_mp3_frames(_hand_mp3(n_frames=3) + b"TAGjunk")) == 3
    with _pytest.raises(NotImplementedError):
        _mp3_frames(b"\xff\xfd\x90\x00" + bytes(400))  # Layer II bits
    with _pytest.raises(NotImplementedError):
        _mp3_frames(b"ID3" + bytes(4))  # truncated ID3 header

    frames = _adts_frames(_hand_adts(n_frames=5, payload_len=93))
    assert frames == [(23219, 100)] * 5
    with _pytest.raises(NotImplementedError):
        _adts_frames(bytes(16))  # no sync


def _xing_frame(tag=b"Xing", mono=False, at=None, crc=False):
    """One MPEG-1 Layer III frame (128 kbps @ 44100) whose body carries
    ``tag`` at the Xing side-info offset (32 bytes stereo / 17 mono
    after the 4-byte header, +2 when the frame is CRC-protected) — the
    LAME/VBRI metadata frame shape."""
    size = 144 * 128000 // 44100
    f = bytearray([0xFF, 0xFA if crc else 0xFB, 0x90, 0xC0 if mono else 0x00])
    f += bytes(size - 4)
    off = (
        at
        if at is not None
        else (4 + (2 if crc else 0) + (17 if mono else 32))
    )
    f[off : off + 4] = tag
    return bytes(f)


def test_mp3_xing_metadata_frame_skipped():
    """A leading Xing/Info/VBRI metadata frame (LAME writes one silent
    header frame at the front of VBR and most CBR encodes) is structure,
    not audio: it must not count toward the timeline (round 14 — it
    inflated duration_ms by one frame and made offset-0 report the
    metadata frame's size)."""
    import pytest as _pytest

    from dbtwiz_spark.multimodal import _mp3_frames

    audio = _hand_mp3(n_frames=3)
    size = 144 * 128000 // 44100
    for tag in (b"Xing", b"Info", b"VBRI"):
        frames = _mp3_frames(_xing_frame(tag) + audio)
        assert len(frames) == 3, tag
        assert sum(d for d, _ in frames) == 3 * 26122
    # mono streams put the tag after a 17-byte side info
    assert len(_mp3_frames(_xing_frame(mono=True) + audio)) == 3
    # CRC-protected frames (protection bit 0) carry a 2-byte CRC before
    # the side info — the tag shifts by 2 and must still be detected
    assert len(_mp3_frames(_xing_frame(crc=True) + audio)) == 3
    assert len(_mp3_frames(_xing_frame(mono=True, crc=True) + audio)) == 3
    # and an UNshifted tag in a protected frame is not at the metadata
    # offset: those are audio bytes
    assert len(
        _mp3_frames(_xing_frame(at=4 + 32, crc=True) + audio)
    ) == 4
    # 'Xing' bytes elsewhere in the first frame's body are audio data,
    # not a metadata header — only the side-info offset counts
    assert len(_mp3_frames(_xing_frame(at=100) + audio)) == 4
    # only the FIRST walked frame can be the metadata frame
    assert len(_mp3_frames(audio[:size] + _xing_frame() + audio[size:])) == 4
    # a payload that is ONLY a metadata frame has no audio timeline
    with _pytest.raises(NotImplementedError):
        _mp3_frames(_xing_frame())
    # the tag lookup is bounded to the FIRST frame's extent: a tiny
    # low-bitrate first frame (MPEG2 8kbps @ 24000 Hz -> 24 bytes)
    # followed by 'VBRI' bytes in the NEXT frame's payload stays audio
    tiny = bytearray([0xFF, 0xF3, 0x14, 0x00]) + bytes(20)  # v2 8k/24k
    second = bytearray([0xFF, 0xF3, 0x14, 0x00]) + bytes(20)
    second[12:16] = b"VBRI"  # absolute offset 36 from the FIRST header
    both = bytes(tiny) + bytes(second)
    assert len(_mp3_frames(both)) == 2


def test_mp3_xing_frame_sample_offset_zero(spark):
    """frame_sample's offset-0 row must report the first AUDIO frame's
    byte size, not the metadata frame's, and extract_features must not
    count the metadata frame in duration_ms."""
    from dbtwiz_spark.multimodal import extract_features, frame_sample

    # first AUDIO frame is the padded 418-byte one; Xing frame is 417
    stream = _xing_frame() + _hand_mp3(n_frames=3, pad_frame=0)
    df = spark.createDataFrame(
        [(1, bytearray(stream))], "doc_id LONG, payload BINARY"
    )
    rows = {
        (r.doc_id, r.offset_ms): r.payload_bytes
        for r in frame_sample(df, every_ms=50).collect()
    }
    assert rows[(1, 0)] == 418
    feats = extract_features(df).collect()[0]
    assert feats.duration_ms == 78  # 3 x 26122 us, Xing frame excluded


def test_id3_tagged_adts_reaches_real_demux(spark):
    """An ID3v2-tagged ADTS stream (taggers wrap raw .aac files) must
    dispatch to _adts_frames, not dead-end in the MP3 walker and fall
    to the fake branch (round 14: the sniffer re-sniffs the first frame
    header AFTER the tag and dispatches on the layer bits)."""
    from dbtwiz_spark.multimodal import (
        _adts_frames,
        _is_adts,
        _is_mp3,
        extract_features,
        frame_sample,
    )

    id3 = b"ID3" + bytes([4, 0, 0, 0, 0, 0, 20]) + bytes(20)
    aac = id3 + _hand_adts(n_frames=5)
    assert _is_adts(aac) and not _is_mp3(aac)
    assert _adts_frames(aac) == [(23219, 100)] * 5
    # ID3-tagged MP3 still sniffs as MP3
    assert _is_mp3(_hand_mp3(n_frames=2, id3_bytes=30))
    assert not _is_adts(_hand_mp3(n_frames=2, id3_bytes=30))
    # ID3 followed by non-audio bytes sniffs as neither (fake branch)
    junk = b"ID3" + bytes([4, 0, 0, 0, 0, 0, 5]) + bytes(5) + b"garbage"
    assert not _is_mp3(junk) and not _is_adts(junk)
    df = spark.createDataFrame(
        [(1, bytearray(aac))], "doc_id LONG, payload BINARY"
    )
    rows = {
        (r.doc_id, r.offset_ms): r.payload_bytes
        for r in frame_sample(df, every_ms=100).collect()
    }
    # real branch: per-frame sizes (100), not len(payload); 116 ms
    # timeline -> offsets 0 and 100 only
    assert rows == {(1, 0): 100, (1, 100): 100}
    feats = extract_features(df).collect()[0]
    assert feats.duration_ms == 116


def test_id3v24_footer_flag_skipped():
    """An ID3v2.4 tag with the footer flag (flags bit 0x10) carries a
    10-byte '3DI' trailer AFTER the body that the syncsafe size does NOT
    count (r14 ADVICE): the skip must add 10 more bytes or the sniffer
    lands on '3DI', returns None, and a footer-tagged stream falls to
    the fake branch."""
    from dbtwiz_spark.multimodal import (
        _adts_frames,
        _is_adts,
        _is_mp3,
        _mp3_frames,
        _skip_id3,
    )

    def tag(body=24, footer=False):
        flags = 0x10 if footer else 0
        out = b"ID3" + bytes([4, 0, flags, 0, 0, 0, body]) + bytes(body)
        if footer:
            out += b"3DI" + bytes([4, 0, 0x10, 0, 0, 0, body])
        return out

    assert _skip_id3(tag(footer=False)) == 10 + 24
    assert _skip_id3(tag(footer=True)) == 10 + 24 + 10
    mp3 = tag(footer=True) + _hand_mp3(n_frames=3)
    assert _is_mp3(mp3) and not _is_adts(mp3)
    assert _mp3_frames(mp3) == _mp3_frames(_hand_mp3(n_frames=3))
    aac = tag(footer=True) + _hand_adts(n_frames=4)
    assert _is_adts(aac) and not _is_mp3(aac)
    assert _adts_frames(aac) == [(23219, 100)] * 4
    # footerless flags byte unaffected; other flag bits add nothing
    no_footer = b"ID3" + bytes([4, 0, 0x40, 0, 0, 0, 8]) + bytes(8)
    assert _skip_id3(no_footer + b"\xff\xfb") == 18
    # footers exist only in v2.4 — a malformed v2.3 tag with the
    # undefined 0x10 bit set must NOT over-skip 10 bytes into the
    # first audio frame (r15 ADVICE: gate on the version byte)
    v23 = b"ID3" + bytes([3, 0, 0x10, 0, 0, 0, 24]) + bytes(24)
    assert _skip_id3(v23 + _hand_mp3(n_frames=1)) == 10 + 24
    assert _is_mp3(v23 + _hand_mp3(n_frames=1))


def test_frame_sample_and_features_mp3_adts(spark):
    """frame_sample steps real MP3/ADTS frame timelines (the frame
    covering each every_ms instant) and extract_features reports their
    summed duration — both from pure header walks, no audio decode."""
    from dbtwiz_spark.multimodal import extract_features, frame_sample

    mp3 = _hand_mp3(n_frames=8, pad_frame=3)   # 8 x 26122 us = 208 ms
    aac = _hand_adts(n_frames=5)               # 5 x 23219 us = 116 ms
    df = spark.createDataFrame(
        [(1, bytearray(mp3)), (2, bytearray(aac))],
        "doc_id LONG, payload BINARY",
    )
    rows = {
        (r.doc_id, r.offset_ms): r.payload_bytes
        for r in frame_sample(df, every_ms=100).collect()
    }
    # t=0 -> frame 1 (417); t=100ms falls in frame 4 (the padded 418:
    # 3 x 26122 = 78366 <= 100000 < 104488); t=200ms -> frame 8
    assert rows[(1, 0)] == 417
    assert rows[(1, 100)] == 418
    assert rows[(1, 200)] == 417
    assert (1, 300) not in rows
    assert rows[(2, 0)] == 100 and rows[(2, 100)] == 100
    assert (2, 200) not in rows  # 116 ms timeline: offsets 0 and 100
    feats = {r.doc_id: r for r in extract_features(df).collect()}
    assert feats[1].duration_ms == 208  # 208976 us
    assert feats[2].duration_ms == 116  # 116095 us
    assert feats[1].width is None and feats[2].width is None


def test_extract_features_animated_gif_duration(spark):
    from dbtwiz_spark.multimodal import extract_features

    pal = [255, 0, 0, 0, 255, 0]
    anim = _animate_gif(2, 2, pal, [(50, [0, 1, 1, 0]), (25, [1, 0, 0, 1])])
    static = _hand_gif(2, 2, [0, 1, 1, 0], pal)
    df = spark.createDataFrame(
        [(1, bytearray(anim)), (2, bytearray(static))],
        "doc_id LONG, payload BINARY",
    )
    out = {r.doc_id: r for r in extract_features(df).collect()}
    assert out[1].duration_ms == 750  # an animation has a real duration
    assert (out[1].width, out[1].height) == (2, 2)
    assert out[2].duration_ms is None  # a static GIF is an image


def test_decode_gif_roundtrip_palette_and_transparency():
    from dbtwiz_spark.multimodal import decode_image

    palette = [255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9]
    idx = [0, 1, 2, 3, 2, 1, 0, 0, 3, 1, 2, 2]
    img = decode_image(_hand_gif(4, 3, idx, palette))
    assert (img["width"], img["height"], img["n_channels"]) == (4, 3, 3)
    assert img["pixels"] == bytes(
        b for i in idx for b in palette[3 * i : 3 * i + 3]
    )
    # transparency upgrades to RGBA with alpha 0 at the transparent index
    img = decode_image(_hand_gif(4, 3, idx, palette, transparent=2))
    assert img["n_channels"] == 4
    expect = bytes(
        b
        for i in idx
        for b in palette[3 * i : 3 * i + 3] + [0 if i == 2 else 255]
    )
    assert img["pixels"] == expect
    # header-only
    hdr = decode_image(_hand_gif(4, 3, idx, palette), with_pixels=False)
    assert (hdr["width"], hdr["height"]) == (4, 3) and "pixels" not in hdr


def test_decode_gif_interlace_and_local_palette():
    from dbtwiz_spark.multimodal import decode_image

    palette = [10, 10, 10, 200, 200, 200]
    height, width = 9, 2
    idx = [(y % 2) for y in range(height) for _ in range(width)]
    # file rows in interlace order: passes 0,8 / 4 / 2,6 / 1,3,5,7
    order = [0, 8, 4, 2, 6, 1, 3, 5, 7]
    file_idx = [v for y in order for v in idx[y * width : (y + 1) * width]]
    img = decode_image(
        _hand_gif(width, height, file_idx, palette, min_code_size=2,
                  interlace=True, local_palette=True)
    )
    assert (img["width"], img["height"]) == (width, height)
    assert img["pixels"] == bytes(
        b for v in idx for b in palette[3 * v : 3 * v + 3]
    )


def test_gif_lzw_code_size_growth_vector():
    """Hand-traced reference vector pinning the growth timing the
    in-test encoder deliberately avoids: with min_code_size=2, after the
    dictionary reaches code 8 the NEXT code is read at 4 bits. Stream
    [CLEAR,0,1,6,2,END] decodes to indices 0,1,0,1,2 with code 2 read
    in 4 bits (per the GIF spec's table-build order: 6 is defined by the
    time it is referenced, and its consumption both emits '01' and
    widens the code size)."""
    from dbtwiz_spark.multimodal import _gif_lzw

    pk = _BitPacker()
    for code, size in ((4, 3), (0, 3), (1, 3), (6, 3), (2, 4), (5, 4)):
        pk.put(code, size)
    assert _gif_lzw(2, pk.done()) == bytes([0, 1, 0, 1, 2])


def test_gif_lzw_kwkwk_case():
    """The code==next_code special case (entry referenced before it is
    in the table): stream [CLEAR,0,6,END] must decode 0,0,0 — code 6 is
    prev+prev[0]."""
    from dbtwiz_spark.multimodal import _gif_lzw

    pk = _BitPacker()
    for code, size in ((4, 3), (0, 3), (6, 3), (5, 3)):
        pk.put(code, size)
    assert _gif_lzw(2, pk.done()) == bytes([0, 0, 0])


def test_decode_gif_malformed_raises():
    import pytest as _pytest

    from dbtwiz_spark.multimodal import decode_image

    palette = [1, 2, 3, 4, 5, 6]
    good = _hand_gif(2, 2, [0, 1, 1, 0], palette)
    for payload in (
        b"GIF89a",                      # bare signature
        good[:-10],                     # truncated inside image data
        good.replace(b"\x2c", b"\x7e", 1),  # unknown block type
        # index 5 is a legal LZW literal at min_code_size=3 but beyond
        # the 2-entry palette
        _hand_gif(2, 2, [0, 1, 5, 0], palette, min_code_size=3),
    ):
        with _pytest.raises(NotImplementedError):
            decode_image(payload)


class _JpegBitWriter:
    """MSB-first JPEG entropy writer with 0xFF00 byte stuffing."""

    def __init__(self):
        self.buf = bytearray()
        self.bits = 0
        self.n = 0

    def put(self, val, size):
        if size == 0:
            return
        self.bits = (self.bits << size) | (val & ((1 << size) - 1))
        self.n += size
        while self.n >= 8:
            self.n -= 8
            b = (self.bits >> self.n) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0)
            self.bits &= (1 << self.n) - 1

    def pad_align(self):
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)

    def raw_marker(self, m):
        self.pad_align()
        self.buf += bytes([0xFF, m])


def _jpeg_zigzag_test():
    # independently built: walk diagonals, reversing every other one
    order = []
    for s in range(15):
        diag = [(r, s - r) for r in range(8) if 0 <= s - r < 8]
        order.extend(diag if s % 2 else diag[::-1])
    return order


def _hand_jpeg(planes, width, height, restart_interval=0):
    """Baseline JPEG encoder for decoder tests: quantization all-ones
    (near-lossless), one shared DC and one shared AC Huffman table with
    every symbol at a canonical 8-bit code. ``planes`` is a list of
    (2d int array, (h_samp, v_samp))."""
    import struct

    import numpy as np

    from dbtwiz_spark.multimodal import _jpeg_idct_matrix

    a = _jpeg_idct_matrix()
    zz = _jpeg_zigzag_test()
    max_h = max(h for _, (h, _) in planes)
    max_v = max(v for _, (_, v) in planes)
    mcus_x = -(-width // (8 * max_h))
    mcus_y = -(-height // (8 * max_v))

    def category(v):
        return int(abs(v)).bit_length()

    def bits_of(v, s):
        return v if v >= 0 else v + (1 << s) - 1

    # pass 1: per-block symbol streams
    mcu_tokens = []  # list per MCU of (dc_sym, dc_bits, [(ac_sym, bits, size)])
    preds = [0] * len(planes)
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and (my * mcus_x + mx) and (
                (my * mcus_x + mx) % restart_interval == 0
            ):
                preds = [0] * len(planes)
            for ci, (plane, (ch, cv)) in enumerate(planes):
                for by in range(cv):
                    for bx in range(ch):
                        y0 = (my * cv + by) * 8
                        x0 = (mx * ch + bx) * 8
                        block = plane[y0 : y0 + 8, x0 : x0 + 8].astype(float)
                        coeff = a @ (block - 128.0) @ a.T
                        q = np.rint(coeff).astype(int)
                        scan = [int(q[r, c]) for r, c in zz]
                        dc_diff = scan[0] - preds[ci]
                        preds[ci] = scan[0]
                        s = category(dc_diff)
                        ac = []
                        run = 0
                        last_nz = max(
                            (k for k in range(1, 64) if scan[k]), default=0
                        )
                        for k in range(1, last_nz + 1):
                            if scan[k] == 0:
                                run += 1
                                if run == 16:
                                    ac.append((0xF0, 0, 0))
                                    run = 0
                                continue
                            sz = category(scan[k])
                            ac.append(
                                ((run << 4) | sz, bits_of(scan[k], sz), sz)
                            )
                            run = 0
                        if last_nz < 63:
                            ac.append((0x00, 0, 0))  # EOB
                        mcu_tokens.append(
                            (s, bits_of(dc_diff, s), ac)
                        )
    dc_syms = sorted({t[0] for t in mcu_tokens})
    ac_syms = sorted({sym for t in mcu_tokens for sym, _, _ in t[2]})

    def huff_spec(symbols):
        counts = [0] * 16
        counts[7] = len(symbols)
        code = {sym: i for i, sym in enumerate(symbols)}
        return bytes(counts) + bytes(symbols), code

    dc_spec, dc_code = huff_spec(dc_syms)
    ac_spec, ac_code = huff_spec(ac_syms)

    w = _JpegBitWriter()
    blocks_per_mcu = sum(ch * cv for _, (ch, cv) in planes)
    ti = iter(mcu_tokens)
    n_mcus = mcus_x * mcus_y
    for m in range(n_mcus):
        if restart_interval and m and m % restart_interval == 0:
            w.raw_marker(0xD0 + ((m // restart_interval - 1) % 8))
        for _ in range(blocks_per_mcu):
            s, dbits, ac = next(ti)
            w.put(dc_code[s], 8)
            w.put(dbits, s)
            for sym, bits, sz in ac:
                w.put(ac_code[sym], 8)
                w.put(bits, sz)
    w.pad_align()
    entropy = bytes(w.buf)

    def seg(marker, data):
        return bytes([0xFF, marker]) + struct.pack(">H", len(data) + 2) + data

    out = b"\xff\xd8"
    out += seg(0xDB, bytes([0]) + bytes([1] * 64))  # DQT: all ones
    sof = struct.pack(">BHHB", 8, height, width, len(planes))
    for ci, (_, (ch, cv)) in enumerate(planes):
        sof += bytes([ci + 1, (ch << 4) | cv, 0])
    out += seg(0xC0, sof)
    out += seg(0xC4, bytes([0x00]) + dc_spec)       # DC class, id 0
    out += seg(0xC4, bytes([0x10]) + ac_spec)       # AC class, id 0
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([len(planes)])
    for ci in range(len(planes)):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    return out + entropy + b"\xff\xd9"


def _jpeg_planes_from_rgb(rgb):
    """Full-resolution (4:4:4) JFIF YCbCr planes from an RGB array."""
    import numpy as np

    r, g, b = (rgb[:, :, i].astype(float) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128
    return [np.rint(p) for p in (y, cb, cr)]


def _pad8(plane):
    import numpy as np

    h, w = plane.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    out = np.zeros((ph, pw))
    out[:h, :w] = plane
    out[h:, :w] = plane[h - 1 : h, :]  # edge-replicate padding
    out[:, w:] = out[:, w - 1 : w]
    return out


def test_jpeg_zigzag_prefix():
    """Anchor both zigzag constructions to the spec's known order."""
    from dbtwiz_spark.multimodal import _JPEG_ZIGZAG

    spec_prefix = [(0, 0), (0, 1), (1, 0), (2, 0), (1, 1),
                   (0, 2), (0, 3), (1, 2), (2, 1), (3, 0)]
    assert list(_JPEG_ZIGZAG[:10]) == spec_prefix
    assert _jpeg_zigzag_test()[:10] == spec_prefix
    assert len(set(_JPEG_ZIGZAG)) == 64
    assert list(_JPEG_ZIGZAG) == _jpeg_zigzag_test()


def test_decode_jpeg_grayscale_gradient():
    import numpy as np

    from dbtwiz_spark.multimodal import decode_image

    h, w = 11, 16
    plane = np.fromfunction(lambda y, x: 30 + 9 * x + 5 * y, (h, w))
    payload = _hand_jpeg([(_pad8(plane), (1, 1))], w, h)
    img = decode_image(payload)
    assert (img["width"], img["height"], img["n_channels"]) == (w, h, 3)
    got = np.frombuffer(img["pixels"], np.uint8).reshape(h, w, 3)
    # quant table is all-ones: only DCT-coefficient rounding error remains
    assert np.abs(got[:, :, 0].astype(float) - plane).max() <= 3
    # grayscale replicates across channels
    assert (got[:, :, 0] == got[:, :, 1]).all()
    hdr = decode_image(payload, with_pixels=False)
    assert (hdr["width"], hdr["height"]) == (w, h) and "pixels" not in hdr


def test_decode_jpeg_color_444_roundtrip():
    import numpy as np

    from dbtwiz_spark.multimodal import decode_image

    h, w = 10, 13
    rgb = np.zeros((h, w, 3), np.uint8)
    for y in range(h):
        for x in range(w):
            rgb[y, x] = (40 + 6 * x, 200 - 8 * y, 60 + 4 * x + 3 * y)
    planes = [(_pad8(p), (1, 1)) for p in _jpeg_planes_from_rgb(rgb)]
    img = decode_image(_hand_jpeg(planes, w, h))
    got = np.frombuffer(img["pixels"], np.uint8).reshape(h, w, 3)
    assert np.abs(got.astype(int) - rgb.astype(int)).max() <= 6


def test_decode_jpeg_420_subsampling_flat():
    import numpy as np

    from dbtwiz_spark.multimodal import decode_image

    h = w = 16
    rgb = np.full((h, w, 3), 0, np.uint8)
    rgb[:, :] = (100, 150, 200)
    y, cb, cr = _jpeg_planes_from_rgb(rgb)
    planes = [
        (_pad8(y), (2, 2)),
        (_pad8(cb[::2, ::2]), (1, 1)),
        (_pad8(cr[::2, ::2]), (1, 1)),
    ]
    img = decode_image(_hand_jpeg(planes, w, h))
    got = np.frombuffer(img["pixels"], np.uint8).reshape(h, w, 3)
    assert np.abs(got.astype(int) - rgb.astype(int)).max() <= 2


def test_decode_jpeg_restart_markers():
    import numpy as np

    from dbtwiz_spark.multimodal import decode_image

    h, w = 8, 32  # 4 MCUs, restart after every one
    plane = np.fromfunction(lambda y, x: 20 + 7 * x, (h, w))
    payload = _hand_jpeg([(plane, (1, 1))], w, h, restart_interval=1)
    assert b"\xff\xd0" in payload or b"\xff\xd1" in payload
    got = np.frombuffer(decode_image(payload)["pixels"], np.uint8)
    got = got.reshape(h, w, 3)[:, :, 0]
    assert np.abs(got.astype(float) - plane).max() <= 3


def test_decode_jpeg_unsupported_profiles_raise():
    import numpy as np
    import pytest as _pytest

    from dbtwiz_spark.multimodal import decode_image

    plane = np.full((8, 8), 99)
    good = _hand_jpeg([(plane, (1, 1))], 8, 8)
    # SOF2 no longer raises: round 13 decodes progressive for real. A
    # relabeled baseline stream (one 0..63 Ah=Al=0 scan — spec-illegal
    # under SOF2 but unambiguous) decodes through the same scan engine.
    relabeled = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert decode_image(relabeled)["pixels"] == decode_image(good)["pixels"]
    lossless = good.replace(b"\xff\xc0", b"\xff\xc3", 1)
    # 4-component (Adobe CMYK shape) must fail the HEADER parse too, so
    # header-only and full decode agree on what is decodable (r12 ADVICE)
    cmyk = bytearray(good)
    sof_at = cmyk.index(b"\xff\xc0")
    cmyk[sof_at + 9] = 4  # component count in the SOF segment
    for payload in (lossless, bytes(cmyk), good[:-20], b"\xff\xd8\xff\xd9"):
        with _pytest.raises(NotImplementedError):
            decode_image(payload)
    # the header-only parse must reject the same PROFILE (frame types,
    # component counts) as the full decode — entropy-level truncation is
    # out of its scope by design (it stops at SOS)
    for payload in (lossless, bytes(cmyk), b"\xff\xd8\xff\xd9"):
        with _pytest.raises(NotImplementedError):
            decode_image(payload, with_pixels=False)


def _prog_refine_block(vals, ss, se, al, ops):
    """One block's AC refinement symbols/bits (mirror of
    multimodal._jpeg_ac_refine): newly-nonzero coefficients (|v|>>al == 1)
    arrive as (zero-history-run, 1) symbols with a sign bit; every
    nonzero-history position the decoder passes contributes one
    correction bit (bit ``al`` of |v|) positionally AFTER the symbol and
    sign; a trailing EOB (run 1) covers the rest of the block."""
    t = {k: abs(vals[k]) >> al for k in range(ss, se + 1)}
    k = ss
    while k <= se:
        run, nxt = 0, None
        for j in range(k, se + 1):
            if t[j] == 1:
                nxt = j
                break
            if t[j] == 0:
                run += 1
        if nxt is None:
            ops.append(("sym", 0x00))  # EOB, run 1: correction-bit tail
            for j in range(k, se + 1):
                if t[j] > 1:
                    ops.append(("bits", (abs(vals[j]) >> al) & 1, 1))
            return
        while run > 15:
            ops.append(("sym", 0xF0))  # ZRL: 16 zero-history skips, with
            zeros = 0                  # interleaved correction bits
            while True:
                if t[k] == 0:
                    zeros += 1
                    if zeros == 16:
                        k += 1
                        break
                elif t[k] > 1:
                    ops.append(("bits", (abs(vals[k]) >> al) & 1, 1))
                k += 1
            run -= 16
        ops.append(("sym", (run << 4) | 1))
        ops.append(("bits", 1 if vals[nxt] > 0 else 0, 1))
        for j in range(k, nxt):
            if t[j] > 1:
                ops.append(("bits", (abs(vals[j]) >> al) & 1, 1))
        k = nxt + 1


def _hand_jpeg_progressive(planes, width, height, restart_interval=0):
    """Progressive (SOF2) JPEG encoder for decoder tests — all-ones
    quantization, per-scan Huffman tables at canonical 8-bit codes (the
    _hand_jpeg conventions), scan script:
      1. DC first, interleaved, Al=1
      2. per component: AC first Ss=1..5, Al=1 (spectral split)
      3. per component: AC first Ss=6..63, Al=1 (cross-block EOBRUN)
      4. per component: AC refine Ss=1..63, Ah=1 -> Al=0
      5. DC refine, interleaved, Ah=1 -> Al=0 (raw bits, no table)
    so spectral selection, successive approximation, EOBRUN and the
    refinement correction-bit flow are all on the wire. ``planes`` as in
    _hand_jpeg: (2d array sized to the MCU-padded component grid,
    (h_samp, v_samp)) per component."""
    import struct

    import numpy as np

    from dbtwiz_spark.multimodal import _jpeg_idct_matrix

    a = _jpeg_idct_matrix()
    zz = _jpeg_zigzag_test()
    max_h = max(h for _, (h, _) in planes)
    max_v = max(v for _, (_, v) in planes)
    mcus_x = -(-width // (8 * max_h))
    mcus_y = -(-height // (8 * max_v))

    def category(v):
        return int(abs(v)).bit_length()

    def bits_of(v, s):
        return v if v >= 0 else v + (1 << s) - 1

    # per component: MCU-padded zigzag coefficient grid
    coefs = []
    for plane, (ch, cv) in planes:
        by, bx = mcus_y * cv, mcus_x * ch
        grid = np.zeros((by, bx, 64), np.int64)
        for r in range(by):
            for c in range(bx):
                block = plane[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8]
                q = np.rint(a @ (block.astype(float) - 128.0) @ a.T)
                grid[r, c] = [int(q[i, j]) for i, j in zz]
        coefs.append(grid)

    def dc_first_ops(al):
        ops = []
        preds = [0] * len(planes)
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci, (_, (ch, cv)) in enumerate(planes):
                    for by in range(cv):
                        for bx in range(ch):
                            v0 = int(coefs[ci][my * cv + by, mx * ch + bx, 0])
                            v0 >>= al  # DC point transform: arithmetic shift
                            diff = v0 - preds[ci]
                            preds[ci] = v0
                            s = category(diff)
                            ops.append(("sym", s))
                            ops.append(("bits", bits_of(diff, s), s))
        return ops

    def dc_refine_ops(al):
        ops = []
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci, (_, (ch, cv)) in enumerate(planes):
                    for by in range(cv):
                        for bx in range(ch):
                            v0 = int(coefs[ci][my * cv + by, mx * ch + bx, 0])
                            ops.append(("bits", (v0 >> al) & 1, 1))
        return ops

    def ac_first_ops(ci, ss, se, al, restart_interval=0):
        _, (ch, cv) = planes[ci]
        comp_w = -(-width * ch // max_h)
        comp_h = -(-height * cv // max_v)
        bh, bw = -(-comp_h // 8), -(-comp_w // 8)
        ops = []
        eob_pending = 0

        def flush():
            nonlocal eob_pending
            if eob_pending:
                r = eob_pending.bit_length() - 1
                ops.append(("sym", r << 4))
                if r:
                    ops.append(("bits", eob_pending - (1 << r), r))
                eob_pending = 0

        for idx in range(bh * bw):
            row, col = divmod(idx, bw)
            if restart_interval and idx and idx % restart_interval == 0:
                flush()  # an EOB run must not cross a restart
                ops.append(("rst", (idx // restart_interval - 1) % 8))
            vals = coefs[ci][row, col]
            nz = [
                (k, int(vals[k]))
                for k in range(ss, se + 1)
                if abs(int(vals[k])) >> al
            ]
            if not nz:
                eob_pending += 1
                continue
            flush()
            k = ss
            for pos, v in nz:
                run = pos - k
                while run > 15:
                    ops.append(("sym", 0xF0))
                    run -= 16
                m = abs(v) >> al
                s = m.bit_length()
                ops.append(("sym", (run << 4) | s))
                ops.append(("bits", bits_of(m if v > 0 else -m, s), s))
                k = pos + 1
            if k <= se:
                eob_pending = 1
        flush()
        return ops

    def ac_refine_ops(ci, ss, se, al):
        _, (ch, cv) = planes[ci]
        comp_w = -(-width * ch // max_h)
        comp_h = -(-height * cv // max_v)
        bh, bw = -(-comp_h // 8), -(-comp_w // 8)
        ops = []
        for row in range(bh):
            for col in range(bw):
                _prog_refine_block(
                    [int(v) for v in coefs[ci][row, col]], ss, se, al, ops
                )
        return ops

    def seg(marker, data):
        return bytes([0xFF, marker]) + struct.pack(">H", len(data) + 2) + data

    def huff_spec(symbols):
        counts = [0] * 16
        counts[7] = len(symbols)
        return bytes(counts) + bytes(symbols), {
            sym: i for i, sym in enumerate(symbols)
        }

    def emit_scan(ops, comp_ids, ss, se, ah, al, tc):
        """DHT (exact symbol set, class ``tc``) + SOS + entropy bytes."""
        syms = sorted({op[1] for op in ops if op[0] == "sym"})
        chunk = b""
        if syms:
            spec, code = huff_spec(syms)
            chunk += seg(0xC4, bytes([(tc << 4) | 0]) + spec)
        else:
            code = {}
        w = _JpegBitWriter()
        for op in ops:
            if op[0] == "sym":
                w.put(code[op[1]], 8)
            elif op[0] == "rst":
                w.raw_marker(0xD0 + op[1])
            else:
                w.put(op[1], op[2])
        w.pad_align()
        sos = bytes([len(comp_ids)])
        for cid in comp_ids:
            sos += bytes([cid, 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        return chunk + seg(0xDA, sos) + bytes(w.buf)

    out = b"\xff\xd8"
    out += seg(0xDB, bytes([0]) + bytes([1] * 64))
    sof = struct.pack(">BHHB", 8, height, width, len(planes))
    for ci, (_, (ch, cv)) in enumerate(planes):
        sof += bytes([ci + 1, (ch << 4) | cv, 0])
    out += seg(0xC2, sof)  # SOF2: progressive
    all_ids = [ci + 1 for ci in range(len(planes))]
    out += emit_scan(dc_first_ops(1), all_ids, 0, 0, 0, 1, tc=0)
    for ci in range(len(planes)):
        out += emit_scan(ac_first_ops(ci, 1, 5, 1), [ci + 1], 1, 5, 0, 1, 1)
    if restart_interval:
        # DRI is scoped: restarts apply only to the high-band scans
        # (where cross-block EOB runs live), then a zero DRI disables
        # them again — both re-specifications are legal mid-stream
        out += seg(0xDD, struct.pack(">H", restart_interval))
    for ci in range(len(planes)):
        out += emit_scan(
            ac_first_ops(ci, 6, 63, 1, restart_interval),
            [ci + 1], 6, 63, 0, 1, 1,
        )
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", 0))
    for ci in range(len(planes)):
        out += emit_scan(ac_refine_ops(ci, 1, 63, 0), [ci + 1], 1, 63, 1, 0, 1)
    out += emit_scan(dc_refine_ops(0), all_ids, 0, 0, 1, 0, tc=0)
    return out + b"\xff\xd9"


def test_decode_jpeg_progressive_matches_baseline_grayscale():
    """Progressive and baseline encodings of the same plane must decode
    to IDENTICAL pixels: all-ones quantization plus complete successive-
    approximation passes reconstruct the exact same coefficients."""
    import numpy as np

    from dbtwiz_spark.multimodal import decode_image

    w, h = 16, 12
    plane = _pad8(
        np.add.outer(np.arange(h) * 9 % 251, np.arange(w) * 17 % 251) % 256
    )
    base = decode_image(_hand_jpeg([(plane, (1, 1))], w, h))
    prog = decode_image(_hand_jpeg_progressive([(plane, (1, 1))], w, h))
    assert (prog["width"], prog["height"]) == (w, h)
    assert prog["pixels"] == base["pixels"]
    # header-only agrees (geometry without entropy decode)
    hdr = decode_image(
        _hand_jpeg_progressive([(plane, (1, 1))], w, h), with_pixels=False
    )
    assert (hdr["width"], hdr["height"], hdr["n_channels"]) == (w, h, 3)


def test_decode_jpeg_progressive_matches_baseline_color_444():
    import numpy as np

    from dbtwiz_spark.multimodal import decode_image

    rng = np.random.default_rng(7)
    w, h = 20, 10
    rgb = rng.integers(0, 256, (h, w, 3))
    planes = [(_pad8(p), (1, 1)) for p in _jpeg_planes_from_rgb(rgb)]
    base = decode_image(_hand_jpeg(planes, w, h))
    prog = decode_image(_hand_jpeg_progressive(planes, w, h))
    assert prog["pixels"] == base["pixels"]


def test_decode_jpeg_progressive_420_subsampled():
    """4:2:0 progressive: the interleaved DC scan walks multi-block MCUs
    while the per-component AC scans walk each component's OWN
    (subsampled, ceil/8) block grid — the two geometries the spec makes
    disagree. Odd frame dims exercise the MCU padding."""
    import numpy as np

    from dbtwiz_spark.multimodal import decode_image

    w, h = 33, 17
    y = _pad16(np.add.outer(np.arange(h) * 5, np.arange(w) * 3) % 256)
    cb = _pad8(np.full((-(-h // 2), -(-w // 2)), 90))
    cr = _pad8(np.full((-(-h // 2), -(-w // 2)), 170))
    planes = [(y, (2, 2)), (cb, (1, 1)), (cr, (1, 1))]
    base = decode_image(_hand_jpeg(planes, w, h))
    prog = decode_image(_hand_jpeg_progressive(planes, w, h))
    assert (prog["width"], prog["height"]) == (w, h)
    assert prog["pixels"] == base["pixels"]


def test_decode_jpeg_progressive_restart_resets_eobrun():
    """Restart markers inside a progressive AC scan: the decoder must
    byte-align, consume the RSTn, and RESET the EOB run at each
    boundary (an EOB run never crosses a restart) — the mostly-flat
    raster makes every interval carry its own run. A scoped DRI (set
    before the high-band scans, zeroed after) also exercises mid-stream
    re-specification."""
    import numpy as np

    from dbtwiz_spark.multimodal import decode_image

    w = h = 32  # 16 blocks, two textured
    plane = np.full((h, w), 77)
    plane[0:8, 8:16] = (np.arange(64).reshape(8, 8) * 5) % 256
    plane[16:24, 24:32] = (np.arange(64).reshape(8, 8) * 11) % 256
    base = decode_image(_hand_jpeg([(plane, (1, 1))], w, h))
    for interval in (1, 3, 5):
        prog = decode_image(
            _hand_jpeg_progressive(
                [(plane, (1, 1))], w, h, restart_interval=interval
            )
        )
        assert prog["pixels"] == base["pixels"], f"interval {interval}"


def test_decode_jpeg_progressive_eobrun_spans_blocks():
    """A mostly-flat image: in the 6..63 spectral band nearly every
    block is empty, so the encoder emits one EOBRUN covering many whole
    blocks — the decoder's block-skipping EOBRUN path, which no
    per-block stream exercises."""
    import numpy as np

    from dbtwiz_spark.multimodal import decode_image

    w = h = 32  # 16 blocks, one textured
    plane = np.full((h, w), 120)
    plane[8:16, 8:16] = (np.arange(64).reshape(8, 8) * 3) % 256
    base = decode_image(_hand_jpeg([(plane, (1, 1))], w, h))
    prog_bytes = _hand_jpeg_progressive([(plane, (1, 1))], w, h)
    prog = decode_image(prog_bytes)
    assert prog["pixels"] == base["pixels"]


def _pad16(plane):
    import numpy as np

    h, w = plane.shape
    ph, pw = -(-h // 16) * 16, -(-w // 16) * 16
    out = np.zeros((ph, pw))
    out[:h, :w] = plane
    out[h:, :w] = plane[h - 1 : h, :]
    out[:, w:] = out[:, w - 1 : w]
    return out


def test_jpeg_payloads_flow_through_features_and_resize(spark):
    import numpy as np

    from dbtwiz_spark.multimodal import (
        decode_image,
        extract_features,
        resize_images,
    )

    plane = np.full((8, 16), 128)
    jpg = _hand_jpeg([(plane, (1, 1))], 16, 8)
    feats = extract_features(
        spark.createDataFrame([(1, bytearray(jpg))], "doc_id LONG, payload BINARY")
    ).collect()[0]
    assert (feats.width, feats.height) == (16, 8)
    df = spark.createDataFrame(
        [(1, bytearray(jpg), ("image/jpeg", 16, 8, None))],
        "doc_id LONG, payload BINARY, "
        "meta STRUCT<media_type STRING, width INT, height INT, duration_ms LONG>",
    )
    out = resize_images(df, 4, 4).collect()[0]
    assert out.meta.media_type == "image/bmp"
    assert decode_image(bytes(out.payload))["width"] == 4


def _box(btype, *payloads):
    import struct

    body = b"".join(payloads)
    return struct.pack(">I", 8 + len(body)) + btype + body


def _hand_mp4(width=640, height=360, timescale=1000, deltas=(100,) * 10,
              sizes=None, fixed=0):
    """Minimal ISO-BMFF: ftyp + moov(mvhd, trak(tkhd, mdia(mdhd,
    minf(stbl(stts, stsz))))). deltas: per-sample durations in media
    units (collapsed to stts runs); sizes: per-sample byte sizes."""
    import struct

    runs = []
    for d in deltas:
        if runs and runs[-1][1] == d:
            runs[-1][0] += 1
        else:
            runs.append([1, d])
    stts = struct.pack(">II", 0, len(runs)) + b"".join(
        struct.pack(">II", c, d) for c, d in runs
    )
    n = len(deltas)
    if fixed:
        stsz = struct.pack(">III", 0, fixed, n)
    else:
        sizes = sizes or [1000 + 7 * i for i in range(n)]
        stsz = struct.pack(">III", 0, 0, n) + b"".join(
            struct.pack(">I", s) for s in sizes
        )
    total = sum(deltas)
    mvhd = struct.pack(">IIIII", 0, 0, 0, timescale, total) + bytes(80)
    tkhd = (
        struct.pack(">IIIIII", 0, 0, 0, 1, 0, total)
        + bytes(16 + 36)
        + struct.pack(">II", width << 16, height << 16)
    )
    mdhd = struct.pack(">IIIII", 0, 0, 0, timescale, total) + bytes(4)
    stbl = _box(b"stbl", _box(b"stts", stts), _box(b"stsz", stsz))
    mdia = _box(b"mdia", _box(b"mdhd", mdhd), _box(b"minf", stbl))
    trak = _box(b"trak", _box(b"tkhd", tkhd), mdia)
    moov = _box(b"moov", _box(b"mvhd", mvhd), trak)
    return _box(b"ftyp", b"isom\x00\x00\x00\x00isom") + moov


def test_parse_mp4_demux():
    from dbtwiz_spark.multimodal import parse_mp4

    sizes = [500, 600, 700, 800]
    m = parse_mp4(_hand_mp4(width=1280, height=720, timescale=600,
                            deltas=(60, 60, 120, 120), sizes=sizes))
    assert (m["width"], m["height"]) == (1280, 720)
    assert m["media_timescale"] == 600
    assert m["duration_ms"] == 360 * 1000 // 600
    assert m["sample_sizes"] == sizes
    assert sum(c * d for c, d in m["stts"]) == 360


def test_parse_mp4_malformed_raises():
    import pytest as _pytest

    from dbtwiz_spark.multimodal import parse_mp4

    good = _hand_mp4()
    for payload in (
        b"\x00\x00\x00\x08ftyp",            # ftyp only, no moov
        good[:40],                            # truncated inside moov
        good.replace(b"moov", b"mvoo", 1),   # moov renamed away
    ):
        with _pytest.raises(NotImplementedError):
            parse_mp4(payload)


def test_frame_sample_real_mp4_demux(spark):
    """MP4 payloads sample through the REAL stts/stsz tables: each
    100 ms step reports the byte size of the sample covering that
    instant (timescale 1000, one sample per 100 ms here, so step k maps
    to sample k)."""
    from dbtwiz_spark.multimodal import frame_sample

    sizes = [111, 222, 333, 444, 555]
    mp4 = _hand_mp4(timescale=1000, deltas=(100,) * 5, sizes=sizes)
    df = spark.createDataFrame(
        [(7, bytearray(mp4))], "doc_id LONG, payload BINARY"
    )
    rows = sorted(
        (r.offset_ms, r.payload_bytes)
        for r in frame_sample(df, every_ms=100).collect()
    )
    assert rows == [(100 * k, sizes[k]) for k in range(5)]


def test_frame_sample_mp4_uneven_deltas_and_fixed_sizes(spark):
    from dbtwiz_spark.multimodal import frame_sample

    # 2 samples of 300ms then 3 of 100ms (timescale 1000): step times
    # 0,200,400 land on samples 0,0,1 at every_ms=200
    mp4 = _hand_mp4(timescale=1000, deltas=(300, 300, 100, 100, 100),
                    sizes=[10, 20, 30, 40, 50])
    df = spark.createDataFrame([(1, bytearray(mp4))],
                               "doc_id LONG, payload BINARY")
    rows = sorted((r.offset_ms, r.payload_bytes)
                  for r in frame_sample(df, every_ms=200).collect())
    assert rows[:3] == [(0, 10), (200, 10), (400, 20)]
    # fixed-size samples (stsz sample_size != 0)
    mp4f = _hand_mp4(timescale=1000, deltas=(100,) * 3, fixed=999)
    df = spark.createDataFrame([(2, bytearray(mp4f))],
                               "doc_id LONG, payload BINARY")
    got = {r.payload_bytes for r in frame_sample(df, every_ms=100).collect()}
    assert got == {999}


def test_frame_sample_malformed_mp4_falls_back(spark):
    """A payload that sniffs as MP4 but does not parse must take the
    deterministic size-based branch, not fail the batch — the parked-
    payload discipline of the other codec paths."""
    from dbtwiz_spark.multimodal import frame_sample

    junk = b"\x00\x00\x00\x08ftyp" + b"x" * 250
    df = spark.createDataFrame([(3, bytearray(junk))],
                               "doc_id LONG, payload BINARY")
    rows = sorted((r.offset_ms, r.payload_bytes)
                  for r in frame_sample(df, every_ms=100).collect())
    assert rows == [(0, len(junk)), (100, len(junk))]


def test_extract_features_mp4_geometry(spark):
    from dbtwiz_spark.multimodal import extract_features

    df = spark.createDataFrame(
        [(1, bytearray(_hand_mp4(width=320, height=240))),
         (2, bytearray(b"\x00\x00\x00\x08ftypz"))],  # sniffs mp4, malformed
        "doc_id LONG, payload BINARY",
    )
    out = {r.doc_id: r for r in extract_features(df).collect()}
    assert (out[1].width, out[1].height) == (320, 240)
    assert out[2].width is None


def test_png_payloads_flow_through_features_and_resize(spark):
    """The decodable-PNG path through the Spark surface: geometry in
    extract_features, REAL resize (re-encoded BMP + media_type rewrite)
    in resize_images."""
    from dbtwiz_spark.multimodal import (
        decode_image,
        extract_features,
        resize_images,
    )

    quads = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 0)]
    rows = [
        [quads[0]] * 2 + [quads[1]] * 2,
        [quads[0]] * 2 + [quads[1]] * 2,
        [quads[2]] * 2 + [quads[3]] * 2,
        [quads[2]] * 2 + [quads[3]] * 2,
    ]
    pixels = bytes(c for r in rows for px in r for c in px)
    png = _hand_png(4, 4, pixels, filters=[4, 3, 2, 1])
    feats = extract_features(
        spark.createDataFrame([(1, bytearray(png))], "doc_id LONG, payload BINARY")
    ).collect()[0]
    assert (feats.width, feats.height) == (4, 4)
    df = spark.createDataFrame(
        [(1, bytearray(png), ("image/png", 4, 4, None))],
        "doc_id LONG, payload BINARY, "
        "meta STRUCT<media_type STRING, width INT, height INT, duration_ms LONG>",
    )
    out = resize_images(df, 2, 2).collect()[0]
    assert out.meta.media_type == "image/bmp"
    resized = decode_image(bytes(out.payload))
    assert (resized["width"], resized["height"]) == (2, 2)
    assert resized["pixels"] == bytes(c for q in quads for c in q)


def test_resize_preserves_alpha_via_png(spark):
    """An RGBA input must re-encode as PNG (not 24-bit BMP, which would
    silently drop the alpha plane), media_type rewritten to match, and
    the resized alpha values must be the nearest-neighbor originals."""
    from dbtwiz_spark.multimodal import decode_image, resize_images

    # 2x2 RGBA PNG with distinct alphas per quadrant
    rgba = bytes([255, 0, 0, 10, 0, 255, 0, 20,
                  0, 0, 255, 30, 255, 255, 0, 40])
    png = _hand_png(2, 2, rgba, color_type=6)
    df = spark.createDataFrame(
        [(1, bytearray(png), ("image/png", 2, 2, None))],
        "doc_id LONG, payload BINARY, "
        "meta STRUCT<media_type STRING, width INT, height INT, duration_ms LONG>",
    )
    out = resize_images(df, 1, 1).collect()[0]
    assert out.meta.media_type == "image/png"
    resized = decode_image(bytes(out.payload))
    assert resized["n_channels"] == 4
    assert resized["pixels"] == bytes([255, 0, 0, 10])  # top-left survives


def test_encode_png_roundtrips_rgb_and_rgba():
    from dbtwiz_spark.multimodal import decode_image, encode_png

    rgb = bytes(range(5 * 3 * 3))
    out = decode_image(encode_png(5, 3, rgb, 3))
    assert (out["width"], out["height"], out["pixels"]) == (5, 3, rgb)
    rgba = bytes(range(2 * 2 * 4))
    out = decode_image(encode_png(2, 2, rgba, 4))
    assert (out["n_channels"], out["pixels"]) == (4, rgba)


def test_resize_images_real_path_for_decodable_payloads(spark):
    """Nearest-neighbor 4x4 -> 2x2 must pick one pixel per quadrant; the
    output payload is a decodable 24-bit BMP. Non-decodable payloads in
    the same batch keep the passthrough branch (meta rewrite only)."""
    from dbtwiz_spark.multimodal import decode_image, resize_images

    quads = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 0)]
    rows = [
        [quads[0]] * 2 + [quads[1]] * 2,
        [quads[0]] * 2 + [quads[1]] * 2,
        [quads[2]] * 2 + [quads[3]] * 2,
        [quads[2]] * 2 + [quads[3]] * 2,
    ]
    bmp = _hand_bmp(4, 4, rows)
    ppm = b"P6\n1 1\n255\n" + bytes([7, 8, 9])
    df = spark.createDataFrame(
        [(1, bytearray(bmp), ("image/bmp", 4, 4, None)),
         (2, bytearray(b"not-an-image"), ("image/png", 9, 9, None)),
         (3, bytearray(ppm), ("image/ppm", 1, 1, None))],
        "doc_id LONG, payload BINARY, "
        "meta STRUCT<media_type STRING, width INT, height INT, duration_ms LONG>",
    )
    out = {r.doc_id: r for r in resize_images(df, 2, 2).collect()}
    resized = decode_image(bytes(out[1].payload))
    assert (resized["width"], resized["height"]) == (2, 2)
    assert resized["pixels"] == bytes(c for q in quads for c in q)
    assert out[1].meta.width == 2 and out[1].meta.height == 2
    assert bytes(out[2].payload) == b"not-an-image"
    assert out[2].meta.width == 2
    # passthrough branch keeps the incoming media_type (payload unchanged)
    assert out[2].meta.media_type == "image/png"
    # real-resize branch RE-ENCODES as 24-bit BMP: metadata must agree
    # with the payload's actual format, whatever format came in
    assert out[3].meta.media_type == "image/bmp"
    assert decode_image(bytes(out[3].payload))["width"] == 2
    assert out[1].meta.media_type == "image/bmp"
