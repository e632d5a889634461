"""Storage-layout and skew-mitigation tests (SURVEY.md §4.2).

Partition pruning and salted-plan equivalence are the two scale levers that
can't be seen in query results — so they're pinned here: pruning must show
up as PartitionFilters in the plan, and salted plans must stay exactly
result-equivalent to their unsalted forms.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hybrid_nutrition_data_pipeline_batch_streaming_spark.operators.skew import (
    salted_join,
    two_phase_agg,
)
from hybrid_nutrition_data_pipeline_batch_streaming_spark.sources.writers import (
    read_pruned,
    write_partitioned,
)

SF = "/root/testdata/sf0.001"


def test_partitioned_write_prunes(spark, tmp_path):
    orders = spark.read.parquet(f"{SF}/orders.parquet").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    write_partitioned(orders, path, ["o_year"], cluster_cols=["o_orderkey"])

    pruned = read_pruned(spark, path, F.col("o_year") == 1997)
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # The year predicate must become a partition filter (directory pruning),
    # not a data filter.
    assert "PartitionFilters: [isnotnull(o_year" in plan and "(o_year" in plan
    expected = orders.where(F.col("o_year") == 1997).count()
    assert pruned.count() == expected


def test_salted_join_equivalent(spark):
    big = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    small = spark.read.parquet(f"{SF}/part.parquet").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    plain = big.join(small, "l_partkey").groupBy("p_brand").count()
    salted = salted_join(big, small, "l_partkey", n_salts=4).groupBy("p_brand").count()
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


def test_two_phase_agg_equivalent(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_returnflag", F.col("l_quantity").cast("decimal(12,2)").alias("q")
    )
    plain = {
        r.l_returnflag: (r.s, r.m)
        for r in df.groupBy("l_returnflag")
        .agg(F.sum("q").alias("s"), F.max("q").alias("m"))
        .collect()
    }
    salted = {
        r.l_returnflag: (r.sum_q, r.max_q)
        for r in two_phase_agg(df, "l_returnflag", {"q": "sum"}, 4)
        .join(two_phase_agg(df, "l_returnflag", {"q": "max"}, 4), "l_returnflag")
        .collect()
    }
    assert plain == salted


def test_bucketed_table_join_avoids_shuffle(spark, tmp_path):
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.sources.writers import (
        write_bucketed_table,
    )

    import shutil

    # A previous session may have left the managed-table directory behind
    # (fresh in-memory metastore + persistent warehouse dir): clear both.
    spark.sql("DROP TABLE IF EXISTS orders_bkt")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/orders_bkt", ignore_errors=True)

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    write_bucketed_table(
        orders, "orders_bkt", "o_orderkey", 4, sort_col="o_orderkey", mode="overwrite"
    )
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    bkt = spark.table("orders_bkt")
    joined = bkt.join(
        li.repartition(4, "l_orderkey"),
        bkt["o_orderkey"] == li["l_orderkey"],
    )
    # The bucketed side must scan without an Exchange above it.
    plan = joined._jdf.queryExecution().executedPlan().toString()
    scan_side = plan.split("orders_bkt")[0]
    assert "Exchange hashpartitioning(o_orderkey" not in scan_side
    assert joined.count() == li.count()


def test_scd2_merge_semantics(spark):
    """SCD2 (CDC history) merge: changed keys close + reopen, unchanged pass
    through, new keys insert, closed history is immutable."""
    import datetime

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.operators.scd import (
        scd2_apply,
    )

    t0 = datetime.datetime(2024, 1, 1)
    t1 = datetime.datetime(2024, 2, 1)
    t2 = datetime.datetime(2024, 3, 1)
    hist_schema = (
        "custkey bigint, segment string, valid_from timestamp_ntz, valid_to timestamp_ntz"
    )
    history = spark.createDataFrame(
        [
            (1, "BUILDING", t0, t1),   # closed old version
            (1, "MACHINERY", t1, None),  # current
            (2, "FURNITURE", t0, None),  # current, won't change
        ],
        hist_schema,
    )
    updates = spark.createDataFrame(
        [
            (1, "AUTOMOBILE", t2),  # change → close+reopen
            (2, "FURNITURE", t2),   # no-op
            (3, "HOUSEHOLD", t2),   # brand new key
        ],
        "custkey bigint, segment string, update_ts timestamp_ntz",
    )
    out = scd2_apply(history, updates, key="custkey", tracked=["segment"])
    rows = {(r.custkey, r.segment, r.valid_from, r.valid_to) for r in out.collect()}
    assert rows == {
        (1, "BUILDING", t0, t1),
        (1, "MACHINERY", t1, t2),      # closed at update time
        (1, "AUTOMOBILE", t2, None),   # new current
        (2, "FURNITURE", t0, None),    # untouched
        (3, "HOUSEHOLD", t2, None),    # inserted
    }
    # Idempotence: re-applying the same updates changes nothing.
    again = scd2_apply(out, updates, key="custkey", tracked=["segment"])
    assert {(r.custkey, r.segment, r.valid_from, r.valid_to) for r in again.collect()} == rows


def test_scd2_multiple_updates_same_key_lww(spark):
    """A CDC batch replaying several updates for one key must pre-reduce to
    the latest (LWW): exactly one open version per key, the superseded
    current row closed exactly once."""
    import datetime

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.operators.scd import (
        scd2_apply,
    )

    t0 = datetime.datetime(2024, 1, 1)
    t1 = datetime.datetime(2024, 2, 1)
    t2 = datetime.datetime(2024, 3, 1)
    history = spark.createDataFrame(
        [(1, "BUILDING", t0, None)],
        "custkey bigint, segment string, valid_from timestamp_ntz, valid_to timestamp_ntz",
    )
    updates = spark.createDataFrame(
        [(1, "MACHINERY", t1), (1, "AUTOMOBILE", t2)],
        "custkey bigint, segment string, update_ts timestamp_ntz",
    )
    out = scd2_apply(history, updates, key="custkey", tracked=["segment"])
    rows = {(r.custkey, r.segment, r.valid_from, r.valid_to) for r in out.collect()}
    assert rows == {
        (1, "BUILDING", t0, t2),      # closed once, at the LATEST update
        (1, "AUTOMOBILE", t2, None),  # single open version
    }
    open_rows = [r for r in out.collect() if r.valid_to is None]
    assert len(open_rows) == 1


def test_salted_join_rejects_row_multiplying_modes(spark):
    """Outer/semi modes would emit unmatched small-side rows once per salt —
    salted_join must refuse them."""
    import pytest as _pytest

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.operators.skew import (
        salted_join,
    )

    big = spark.createDataFrame([(1, "x")], "k bigint, v string")
    small = spark.createDataFrame([(1, "d"), (2, "d2")], "k bigint, tag string")
    for how in ("right", "full", "left_semi", "left_anti"):
        with _pytest.raises(ValueError):
            salted_join(big, small, "k", n_salts=4, how=how)
    # left join IS supported and row-equivalent.
    plain = sorted(tuple(r) for r in big.join(small, "k", "left").collect())
    salted = sorted(
        tuple(r)
        for r in salted_join(big, small, "k", n_salts=4, how="left")
        .select("k", "v", "tag")
        .collect()
    )
    assert plain == salted


def test_zorder_layout_skips_on_both_columns(spark, tmp_path):
    """Z-ordering must give BOTH interleaved columns file-level locality:
    per-file min/max spans shrink on each dimension, where a single-key
    sort leaves the non-leading column's span at ~the full domain — so a
    selective filter on either column can skip most files via stats."""
    import glob

    import pyarrow.parquet as pq

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.sources.writers import (
        write_zordered,
    )

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    zpath = str(tmp_path / "z")
    spath = str(tmp_path / "s")
    write_zordered(li, zpath, ["l_orderkey", "l_partkey"], n_files=16)
    # Baseline: classic single-key clustering on the leading column.
    (
        li.repartitionByRange(16, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .parquet(spath)
    )

    def mean_span_fraction(path, col):
        dlo, dhi = None, None
        files = sorted(glob.glob(f"{path}/part-*.parquet"))
        assert len(files) >= 8
        per_file = []
        for f in files:
            md = pq.read_metadata(f)
            fmin = fmax = None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        fmin = c.statistics.min if fmin is None else min(fmin, c.statistics.min)
                        fmax = c.statistics.max if fmax is None else max(fmax, c.statistics.max)
            per_file.append((fmin, fmax))
            dlo = fmin if dlo is None else min(dlo, fmin)
            dhi = fmax if dhi is None else max(dhi, fmax)
        domain = dhi - dlo
        spans = [(hi - lo) / domain for lo, hi in per_file]
        return sum(spans) / len(spans)

    # Both layouts keep rows; same data.
    assert spark.read.parquet(zpath).count() == li.count()

    z_ord = mean_span_fraction(zpath, "l_orderkey")
    z_part = mean_span_fraction(zpath, "l_partkey")
    s_ord = mean_span_fraction(spath, "l_orderkey")
    s_part = mean_span_fraction(spath, "l_partkey")

    # The single-sort baseline is near-perfect on its leading key and
    # useless on the other (~full domain per file).
    assert s_ord < 0.2
    assert s_part > 0.8
    # Z-order trades a little leading-key locality for locality on BOTH:
    # each file covers a compact rectangle, so both spans sit well below
    # the baseline's non-leading span.
    assert z_ord < 0.6 and z_part < 0.6, (z_ord, z_part)
    assert z_part < s_part / 2


def test_aqe_splits_skewed_join_partitions(spark):
    """The engine's answer to hot keys WITHOUT manual salting: AQE must
    detect the skewed shuffle partition at runtime and split it
    (skew=true on the join node). This is the lever that keeps one
    1000×-hot key from serializing a fact-fact join at 100 TB."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # 400k rows, half of them on ONE key; payload pads bytes so the hot
        # partition crosses the skew threshold.
        big = spark.range(400_000).select(
            F.when(F.col("id") % 2 == 0, 0)
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.concat(F.lit("x" * 64), F.col("id")).alias("payload"),
        )
        small = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        # No keyed aggregation downstream: a consumer that reuses the join
        # partitioning (e.g. groupBy on the key) makes AQE skip the split
        # to avoid an extra shuffle. collect() executes THIS DataFrame's
        # QueryExecution — a write would run a separate one and leave this
        # plan un-finalized.
        joined = big.join(small, "k").select(F.length("payload").alias("n"))
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_compaction_bin_packs_small_files(spark, tmp_path):
    """compact_files rewrites a fragmented directory into the computed
    target count without changing the data, skips already-compact dirs,
    and the rewrite is shuffle-free (coalesce, not repartition)."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.sources.writers import (
        compact_files,
    )

    path = str(tmp_path / "frag")
    src = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    src.repartition(64).write.parquet(path)  # simulate streaming small files
    before_sum = src.agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
    ).collect()[0][0]
    n_rows = src.count()

    # tiny target → recompute exact expected count from on-disk bytes
    import math
    import os

    total = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.startswith("part-")
    )
    target = max(1, total // 4)
    fb, fa = compact_files(spark, path, target_bytes=target)
    assert fb == 64
    assert fa == math.ceil(total / target)
    assert fa < fb

    out = spark.read.parquet(path)
    assert out.count() == n_rows
    after_sum = out.agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
    ).collect()[0][0]
    assert after_sum == before_sum

    # no-op guard: a target small enough that the computed file count
    # can't beat the current one must skip the rewrite entirely
    fb2, fa2 = compact_files(spark, path, target_bytes=1)
    assert (fb2, fa2) == (fa, fa)


def test_schema_evolution_merge_and_missing_columns(spark, tmp_path):
    """Lakehouse schema evolution: a column added mid-history must surface
    via mergeSchema with NULLs for pre-evolution files, and per-file
    provenance of the evolved column must respect file boundaries — the
    append-only contract a 100 TB table relies on when producers upgrade."""
    path = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, name string")
    v1.write.parquet(path)
    v2 = spark.createDataFrame(
        [(3, "c", 0.5)], "id bigint, name string, score double"
    )
    v2.write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows == {1: None, 2: None, 3: 0.5}

    # without mergeSchema Spark picks one footer's schema — pinned so the
    # default's nondeterminism is documented behavior, not a surprise
    plain = spark.read.parquet(path)
    assert set(plain.columns) <= {"id", "name", "score"}


def test_corrupt_file_quarantine_on_scan(spark, tmp_path):
    """A corrupted parquet object inside a scan directory must be skippable
    (ignoreCorruptFiles) without losing the healthy files' rows — the
    bad-object reality of a 100 TB object-store scan. Default behavior
    (fail loudly) is pinned too: silent skipping must be an explicit
    opt-in, never a surprise."""
    import pytest as _pytest

    path = str(tmp_path / "mixed")
    src = spark.read.parquet(f"{SF}/nation.parquet")
    src.coalesce(1).write.parquet(path)
    import os

    with open(os.path.join(path, "part-corrupt.parquet"), "wb") as f:
        f.write(b"PAR1 this is not a parquet file")

    # default: the scan fails loudly on the bad object
    with _pytest.raises(Exception):
        spark.read.parquet(path).count()

    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        assert spark.read.parquet(path).count() == src.count()
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")


def test_compaction_refuses_partitioned_dirs(spark, tmp_path):
    """compact_files on a hive-partitioned directory must refuse loudly —
    a flat rewrite would silently destroy the partitioning."""
    import pytest as _pytest

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.sources.writers import (
        compact_files,
    )

    path = str(tmp_path / "parted")
    (
        spark.read.parquet(f"{SF}/orders.parquet")
        .withColumn("o_year", F.year("o_orderdate"))
        .write.partitionBy("o_year")
        .parquet(path)
    )
    with _pytest.raises(ValueError, match="partition dirs"):
        compact_files(spark, path)


def test_bucket_checksums_localize_replica_divergence(spark, tmp_path):
    """Anti-entropy end-to-end: copy a table, corrupt ONE row in the
    replica, and the per-bucket fingerprints disagree in exactly the
    bucket that row hashes to — reconciliation re-copies one bucket, not
    the table. (The query form is `checksum_buckets`; this drives the same
    arithmetic over two physical copies.)"""
    src_path = str(tmp_path / "src")
    rep_path = str(tmp_path / "rep")
    src = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    src.write.parquet(src_path)
    # replica with one value flipped on one row
    (
        spark.read.parquet(src_path)
        .withColumn(
            "l_quantity",
            F.when(
                (F.col("l_orderkey") == 1) & (F.col("l_linenumber") == 3),
                F.col("l_quantity") + 1,
            ).otherwise(F.col("l_quantity")),
        )
        .write.parquet(rep_path)
    )

    def checksums(path):
        canon = F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
            F.col("l_quantity").cast("string"),
            F.col("l_returnflag"),
        )
        word = F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("long")
        return {
            r.bucket: (r.row_cnt, r.checksum)
            for r in spark.read.parquet(path)
            .groupBy((F.col("l_orderkey") % 16).cast("int").alias("bucket"))
            .agg(F.count("*").alias("row_cnt"), F.sum(word).alias("checksum"))
            .collect()
        }

    a, b = checksums(src_path), checksums(rep_path)
    diverged = [k for k in a if a[k] != b[k]]
    assert diverged == [1 % 16]  # exactly the corrupted row's bucket
    assert all(a[k][0] == b[k][0] for k in a)  # counts agree; values differ


def test_backfill_rewrites_only_target_partition(spark, tmp_path):
    """Dynamic partition overwrite (the day-N backfill primitive): re-running
    one day replaces exactly that day's directory; the other days' files
    stay byte-identical; the backfill is idempotent."""
    import glob
    import hashlib

    from pyspark.sql import functions as F
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.sources.writers import (
        backfill_partitions,
    )

    path = str(tmp_path / "days")
    full = spark.createDataFrame(
        [(d, i, float(i)) for d in ("2026-08-01", "2026-08-02", "2026-08-03")
         for i in range(10)],
        "day string, k int, v double",
    )
    backfill_partitions(full, path, ["day"])

    def digests(day):
        return {
            f.split("/")[-1]: hashlib.md5(open(f, "rb").read()).hexdigest()
            for f in glob.glob(f"{path}/day={day}/*.parquet")
        }

    d1, d3 = digests("2026-08-01"), digests("2026-08-03")

    # Reprocess day 2 only, with corrected values.
    day2 = full.where(F.col("day") == "2026-08-02").withColumn(
        "v", F.col("v") * 2
    )
    backfill_partitions(day2, path, ["day"])

    assert digests("2026-08-01") == d1 and digests("2026-08-03") == d3
    got = spark.read.parquet(path)
    assert got.count() == 30
    assert (
        got.where(F.col("day") == "2026-08-02").agg(F.sum("v")).first()[0]
        == sum(2.0 * i for i in range(10))
    )
    # Idempotent: running the same backfill again changes nothing
    # (re-read after the write — the old DataFrame's file listing is stale).
    backfill_partitions(day2, path, ["day"])
    again = spark.read.parquet(path)
    assert again.count() == 30
    assert digests("2026-08-01") == d1
    assert (
        again.where(F.col("day") == "2026-08-02").agg(F.sum("v")).first()[0]
        == sum(2.0 * i for i in range(10))
    )


def test_static_overwrite_would_truncate_other_partitions(spark, tmp_path):
    """The failure mode backfill_partitions exists to prevent, pinned: the
    same single-day write under default static overwrite drops every other
    partition."""
    from pyspark.sql import functions as F
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.sources.writers import (
        backfill_partitions,
    )

    path = str(tmp_path / "days")
    full = spark.createDataFrame(
        [(d, i) for d in ("2026-08-01", "2026-08-02") for i in range(5)],
        "day string, k int",
    )
    backfill_partitions(full, path, ["day"])
    day2 = full.where(F.col("day") == "2026-08-02")
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower() == "static"
    day2.repartition(1).write.mode("overwrite").partitionBy("day").parquet(path)
    assert spark.read.parquet(path).count() == 5  # day 1 is gone


def test_backfill_leaves_the_session_overwrite_mode_unset(spark, tmp_path):
    """backfill_partitions sets dynamic overwrite on its own write, not on
    the session: a session where the conf was unset still has it unset
    afterwards (it used to be left explicitly set to static, and read
    dynamic to every other query on the session during the write)."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.sources.writers import (
        backfill_partitions,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)
    days = spark.createDataFrame([("2026-08-01", 1)], "day string, k int")
    backfill_partitions(days, str(tmp_path / "days"), ["day"])
    assert spark.conf.get(key, None) is None


def test_dynamic_partition_pruning_prunes_fact_scan(spark, tmp_path):
    """Star-schema runtime pruning (the 100 TB date-partition pattern): a
    fact table partitioned by day, joined to a dimension that is filtered
    at runtime, must plan a dynamicpruning subquery in its PartitionFilters
    — the fact scan then reads only the dimension-selected partitions
    instead of every day."""
    from pyspark.sql import functions as F

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.catalog import Catalog

    cat = Catalog(spark, "/root/testdata/sf0.001")
    fact_path = str(tmp_path / "fact_by_day")
    (
        cat.events.withColumn("d", F.to_date("ts"))
        .write.mode("overwrite")
        .partitionBy("d")
        .parquet(fact_path)
    )
    dim_path = str(tmp_path / "dim_days")
    (
        cat.events.select(F.to_date("ts").alias("d"))
        .distinct()
        .withColumn("grp", F.expr("datediff(d, DATE '2024-01-01') % 10"))
        .write.mode("overwrite")
        .parquet(dim_path)
    )
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).where(F.col("grp") == 3)
    q = fact.join(dim, "d").groupBy("d").agg(F.count("*").alias("n"))
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "no DPP subquery in the fact scan"
    # The pruning expression must sit in the fact scan's PARTITION filters
    # (runtime directory skipping), not merely as a post-scan data filter.
    # (inputFiles() reports the static listing, so file counts can't verify
    # the runtime skip — the plan's PartitionFilters clause is the contract.)
    fact_scan = next(
        seg for seg in plan.split("FileScan")[1:] if "fact_by_day" in seg
    )
    pf = fact_scan.split("PartitionFilters: [")[1].split("]")[0]
    assert "dynamicpruning" in pf.lower(), f"DPP not in PartitionFilters: {pf}"


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """The co-located fact-fact join (S5's MergeTree-ORDER-BY analog taken
    one step further): two tables bucketed AND sorted on the same join key
    with the same bucket count must sort-merge join with NO Exchange on
    either side — the repeated-join shuffle is paid once at write time.
    This is the 100 TB lever for fact-fact joins that recur across jobs
    (bucket pruning and shuffle-free aggregation ride the same layout)."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.sources.writers import (
        write_bucketed_table,
    )

    # (spark.sql.warehouse.dir is a static conf — the managed tables land
    # in the default ./spark-warehouse, gitignored, and are dropped below.)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
            "l_orderkey", "l_extendedprice"
        )
        od = spark.read.parquet(f"{SF}/orders.parquet").select(
            F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
        )
        write_bucketed_table(li, "li_b", "l_orderkey", 8, sort_col="l_orderkey")
        write_bucketed_table(od, "od_b", "l_orderkey", 8, sort_col="l_orderkey")

        joined = spark.table("li_b").join(spark.table("od_b"), "l_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # Result equivalence vs the plain (shuffled) join.
        assert joined.count() == li.join(od, "l_orderkey").count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS od_b")


def test_null_split_left_join_equivalent_and_shuffle_free_null_branch(spark):
    """null_split_left_join == plain left join row-for-row, while the
    NULL-keyed slice reaches the result through a union branch with NO
    exchange (it never enters the join shuffle)."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.operators.skew import (
        null_split_left_join,
    )

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        # Make 1/3 of the keys NULL — the optional-dimension shape.
        F.when(F.col("l_orderkey") % 3 == 0, None)
        .otherwise(F.col("l_partkey"))
        .alias("p_partkey"),
        "l_orderkey",
        "l_extendedprice",
    )
    part = spark.read.parquet(f"{SF}/part.parquet").select(
        "p_partkey", "p_brand", "p_size"
    )
    split = null_split_left_join(li, part, "p_partkey")
    plain = li.join(part, "p_partkey", "left")
    assert split.schema == plain.schema
    key_none_last = lambda t: tuple(  # noqa: E731  (None-safe sort)
        (v is None, v) for v in t
    )
    assert sorted(map(tuple, split.collect()), key=key_none_last) == sorted(
        map(tuple, plain.collect()), key=key_none_last
    )
    # The union's NULL branch must be exchange-free: exactly the exchanges
    # of the plain join appear, plus zero for the routed-around slice.
    p_split = split._jdf.queryExecution().executedPlan().toString()
    p_plain = plain._jdf.queryExecution().executedPlan().toString()
    assert p_split.count("Exchange") == p_plain.count("Exchange")
    assert "Union" in p_split


def test_analyze_table_feeds_cbo_row_counts(spark, tmp_path):
    """ANALYZE TABLE ... COMPUTE STATISTICS must surface rowCount to the
    optimizer (CBO's input): before ANALYZE the catalog relation has only
    size-based stats; after, the optimized plan carries the exact row
    count — what join reordering and broadcast decisions key off."""
    spark.sql("DROP TABLE IF EXISTS part_stats")
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/part_stats", ignore_errors=True)
    spark.read.parquet(f"{SF}/part.parquet").write.saveAsTable("part_stats")
    spark.conf.set("spark.sql.cbo.enabled", "true")  # rowCount propagates
    try:
        df = spark.table("part_stats")
        stats_before = (
            df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        )
        assert stats_before.isEmpty()
        spark.sql("ANALYZE TABLE part_stats COMPUTE STATISTICS")
        df2 = spark.table("part_stats")
        stats_after = (
            df2._jdf.queryExecution().optimizedPlan().stats().rowCount()
        )
        assert not stats_after.isEmpty()
        assert int(str(stats_after.get())) == df2.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS part_stats")


def test_scd2_closed_only_key_treats_update_as_insert(spark):
    """A key whose versions are ALL closed (no open row — e.g. after a
    delete) must treat an incoming update as a brand-new insert, exactly
    once, and pass the closed rows through untouched. This is the edge the
    r10 one-pass fusion handles via the per-key has_current flag: the
    update full-outer-joins BOTH closed rows, so without the flag it would
    be inserted twice or not at all (the pre-fusion anti-join formulation
    got it right structurally; the fused form must match)."""
    import datetime

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.operators.scd import (
        scd2_apply,
    )

    t0 = datetime.datetime(2024, 1, 1)
    t1 = datetime.datetime(2024, 2, 1)
    t2 = datetime.datetime(2024, 3, 1)
    history = spark.createDataFrame(
        [
            (1, "BUILDING", t0, t1),    # closed
            (1, "MACHINERY", t1, t2),   # closed — no open row for key 1
            (2, "FURNITURE", t0, None), # unrelated current row
        ],
        "custkey bigint, segment string, valid_from timestamp_ntz, valid_to timestamp_ntz",
    )
    updates = spark.createDataFrame(
        [(1, "AUTOMOBILE", t2)],
        "custkey bigint, segment string, update_ts timestamp_ntz",
    )
    out = scd2_apply(history, updates, key="custkey", tracked=["segment"])
    rows = {(r.custkey, r.segment, r.valid_from, r.valid_to) for r in out.collect()}
    assert rows == {
        (1, "BUILDING", t0, t1),      # closed history immutable
        (1, "MACHINERY", t1, t2),     # closed history immutable
        (1, "AUTOMOBILE", t2, None),  # inserted exactly once
        (2, "FURNITURE", t0, None),   # untouched
    }
    assert out.count() == 4  # the insert must not duplicate per closed row


def test_scd2_null_update_ts_opens_without_closing(spark):
    """A differing update with NULL update_ts is outside the timeline: it
    must NOT close the current row (a NULL valid_to close-out would make
    the superseded row look open forever) but still opens the new version
    with a NULL valid_from — the pre-fusion changed-keys filter on
    effective_ts, preserved through the r10 fusion."""
    import datetime

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.operators.scd import (
        scd2_apply,
    )

    t0 = datetime.datetime(2024, 1, 1)
    history = spark.createDataFrame(
        [(1, "BUILDING", t0, None)],
        "custkey bigint, segment string, valid_from timestamp_ntz, valid_to timestamp_ntz",
    )
    updates = spark.createDataFrame(
        [(1, "MACHINERY", None)],
        "custkey bigint, segment string, update_ts timestamp_ntz",
    )
    out = scd2_apply(history, updates, key="custkey", tracked=["segment"])
    rows = {(r.custkey, r.segment, r.valid_from, r.valid_to) for r in out.collect()}
    assert rows == {
        (1, "BUILDING", t0, None),   # NOT closed by a timeless update
        (1, "MACHINERY", None, None),
    }
