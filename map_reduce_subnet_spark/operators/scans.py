"""Family A — scans, sources, sinks (SURVEY.md §2.2.A).

Grounding: full state-snapshot scans (reference neurons/validator.py:95,168),
column projection of the metagraph (reference neurons/miner.py:181-188),
header-stage filtering before deserialization (reference
neurons/miner.py:108-113), payload deserialization (reference
template/protocol.py:59-75), periodic sink (reference
neurons/validator.py:155-161).

Scale notes: projections and filters here are expressed declaratively so
Catalyst pushes them into the Parquet scan (PushedFilters / ReadSchema —
asserted in tests/test_plans.py). At 100 TB the same plans prune row
groups and, on a date-partitioned layout, whole partitions.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_subnet_spark.functions.stable import (
    dsum,
    dsum_wide,
    sql_dsum,
    sql_dsum_wide,
)
from map_reduce_subnet_spark.operators.registry import query
from map_reduce_subnet_spark.sources.tables import load_table


@query(
    "scan_full",
    oracle="SELECT COUNT(*) AS n_rows FROM lineitem",
)
def scan_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan + count (parquet footer statistics short-circuit this)."""
    return load_table(spark, sf_dir, "lineitem").agg(F.count("*").alias("n_rows"))


@query(
    "scan_prune_columns",
    oracle="SELECT l_orderkey, l_quantity FROM lineitem",
)
def scan_prune_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read 2 of 11 lineitem columns — Catalyst prunes the scan schema."""
    return load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")


@query(
    "scan_filter_pushdown",
    oracle="""
SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS ship_date
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
""",
)
def scan_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range predicate pushed to Parquet row-group statistics."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
    )


@query(
    "scan_json_props",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
FROM events
""",
)
def scan_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deserialize the JSON payload column into a typed field."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
    )


@query(
    "sample_systematic",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
WHERE l_orderkey % 97 < 10
""",
)
def sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% systematic sample: key-modulus predicate
    (orderkey mod 97 < 10). TABLESAMPLE/rand() draws differ across
    engines and runs; a modulus on a stable key is reproducible,
    cross-engine exact, and keeps whole orders together (every
    lineitem of a sampled order is in the sample — the grouping a
    training-data pipeline needs when subsampling a corpus). The
    predicate is a plain comparison, so it evaluates during the scan —
    no shuffle, no extra pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.where((F.col("l_orderkey") % 97) < 10).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


def _lineitem_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem written month-partitioned on l_shipdate (one
    ``part_key=YYYY-MM`` directory per month), a fixture artifact
    shared by the static and dynamic pruning keys. The declared read
    schema (data columns + the string partition key) is robust to an
    empty lineitem (a zero-row partitioned write has no data files to
    infer from) and skips footer-based inference."""
    from pyspark.sql.types import StringType, StructField, StructType

    from map_reduce_subnet_spark.functions.cache import artifact
    from map_reduce_subnet_spark.sources.layout import date_partitioned

    li = load_table(spark, sf_dir, "lineitem")
    return artifact(
        spark, sf_dir, "part_cache",
        lambda: date_partitioned(li, "l_shipdate", "month"),
        schema=StructType(
            list(li.schema.fields) + [StructField("part_key", StringType())]
        ),
        partition_by="part_key",
    )


@query(
    "scan_partition_prune",
    oracle=f"""
SELECT l_returnflag, COUNT(*) AS n_rows, {sql_dsum("l_quantity")} AS sum_qty
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
GROUP BY l_returnflag
""",
)
def scan_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-level partition pruning — the 100 TB storage layout
    made driver-visible: lineitem is rewritten month-partitioned
    (sources/layout.py, SURVEY §4.2), a 3-month scan reads ONLY those
    partition directories, and the aggregate over the pruned scan must
    hash-match the plain date-range SQL on the original table.

    The query self-lints its plan (the point of registering it): it
    RAISES unless the scan carries a non-empty PartitionFilters entry
    on part_key — PartitionFilters is the mechanism (FileSourceScan
    applies them to the partition-directory listing BEFORE any file is
    opened), so its presence is directory-level pruning by
    construction. (``df.inputFiles()`` deliberately not used: it lists
    the relation's files ignoring partition filters.) At 100 TB this
    is the difference between reading ~0.4% of a 7-year fact table and
    reading all of it. At deployment the table is written this way
    ONCE — and the scratch layout behaves the same way here: it is a
    fixture artifact (_lineitem_by_month), so repeated invocations
    (bench runs, driver sweeps) skip the rewrite and time only the
    pruned read.
    """
    from map_reduce_subnet_spark.functions.cache import artifact_path
    from map_reduce_subnet_spark.plans import formatted_plan

    months = ["1997-01", "1997-02", "1997-03"]
    pruned = _lineitem_by_month(spark, sf_dir).where(
        F.col("part_key").isin(months)
    )
    # the pruning lint is vacuous when the layout has no partition
    # directories at all (empty input table): Catalyst collapses the
    # scan and no PartitionFilters line exists to check
    has_partitions = any(
        e.startswith("part_key=")
        for e in os.listdir(artifact_path(sf_dir, "part_cache"))
    )
    plan = formatted_plan(pruned)
    pf_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters:" in ln
    ]
    if has_partitions and not any(
        "part_key" in ln and "PartitionFilters: []" not in ln
        for ln in pf_lines
    ):
        raise RuntimeError(
            "scan_partition_prune: part_key predicate did not reach the "
            "file index as a partition filter — scan would list every "
            f"partition. Plan:\n{plan}"
        )
    return pruned.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"), dsum("l_quantity", "sum_qty")
    )


def _materialize_and_clean(spark, readback, path):
    """Pin the read-back rows in memory, delete the scratch dir.

    The read is lazy — deleting the dir before the caller's action
    would break it — and never deleting leaks a directory per
    invocation. The sink outputs are small aggregates, so localizing
    them is cheap; the roundtrip (write → files → read) has already
    exercised the distributed path."""
    import shutil

    rows = readback.collect()
    shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(rows, readback.schema)


@query(
    "sink_csv_roundtrip",
    oracle="""
SELECT o_orderstatus, COUNT(*) AS n_orders FROM orders GROUP BY 1
""",
)  # the sink write is the side effect; the read-back VALUES are
# SQL-checkable (promoted rows->SQL late r6, like the scan roundtrips)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + schema-declared CSV source (header, explicit schema —
    inference is never used in the engine proper)."""
    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
    )
    # unique dir per invocation: a fixed path would race under
    # concurrent query execution (overwrite deletes mid-read) and
    # cross-contaminate different sf_dir runs
    out = os.path.join(
        tempfile.gettempdir(), f"mrs_sink_csv_{uuid.uuid4().hex[:12]}"
    )
    agg.write.mode("overwrite").option("header", True).csv(out)
    readback = (
        spark.read.schema("o_orderstatus STRING, n_orders LONG")
        .option("header", True)
        .csv(out)
    )
    return _materialize_and_clean(spark, readback, out)


@query(
    "sink_json_roundtrip",
    oracle="""
SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY 1
""",
)  # promoted rows->SQL late r6: read-back values match the source aggregate
def sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + schema-declared JSON source."""
    agg = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )
    out = os.path.join(
        tempfile.gettempdir(), f"mrs_sink_json_{uuid.uuid4().hex[:12]}"
    )
    agg.write.mode("overwrite").json(out)
    readback = spark.read.schema("event_type STRING, n_events LONG").json(out)
    return _materialize_and_clean(spark, readback, out)


@query(
    "sink_roundtrip",
    oracle="""
SELECT l_returnflag, COUNT(*) AS n_rows FROM lineitem GROUP BY 1
""",
)  # promoted rows->SQL late r6: read-back values match the source aggregate
def sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write an aggregate to Parquet, read it back (periodic sink pattern).

    Rows-only oracle. Uses a scratch dir; at scale this is the same
    ``df.write.parquet`` path with partitioning options.
    """
    agg = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_rows"))
    )
    out = os.path.join(
        tempfile.gettempdir(), f"mrs_sink_parquet_{uuid.uuid4().hex[:12]}"
    )
    agg.write.mode("overwrite").parquet(out)
    return _materialize_and_clean(spark, spark.read.parquet(out), out)


@query(
    "scan_csv_roundtrip",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS sum_price
FROM orders
GROUP BY o_orderstatus
""",
)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV as a source format: orders lands in scratch CSV (header,
    default quoting) and is read back with an EXPLICIT schema — never
    inferSchema, which costs a second full pass and guesses types from
    data. The aggregate over the CSV read must hash-match the SQL over
    the original parquet, which pins the roundtrip value-exact: Spark
    writes doubles as their shortest roundtrip representation, so
    o_totalprice survives text encoding bit-for-bit.

    Scale shape: CSV is splittable (uncompressed), so the read
    parallelizes like parquet minus the footer statistics; schema-on-
    read with a declared contract matches the loader's posture. The
    per-invocation scratch write keeps the registered query
    self-contained; a deployment reads CSV landed by upstream systems.
    """
    import os
    import shutil
    import tempfile

    out = os.path.join(
        tempfile.gettempdir(), f"mrs_csv_{uuid.uuid4().hex[:12]}"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    try:
        o.write.option("header", "true").csv(out)
        back = (
            spark.read.schema(
                "o_orderkey long, o_orderstatus string, o_totalprice double"
            )
            .option("header", "true")
            .csv(out)
        )
        agg = back.groupBy("o_orderstatus").agg(
            F.count("*").alias("n_orders"), dsum("o_totalprice", "sum_price")
        )
        rows = agg.collect()
        schema = agg.schema
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@query(
    "scan_jsonl_roundtrip",
    oracle=f"""
SELECT event_type, COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM events
GROUP BY event_type
""",
)
def scan_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines as a source format: events lands in scratch JSONL
    and is read back with an EXPLICIT schema (same no-inference posture
    as scan_csv_roundtrip — inferring JSON schemas costs a full pass
    and silently widens types). The aggregate over the JSONL read must
    hash-match the SQL over the original parquet: doubles roundtrip
    through JSON text via shortest-repr, counts are structural.

    Scale shape: JSONL is splittable by line, reads parallelize; the
    declared schema also makes the scan prune unneeded fields at parse
    time instead of materializing every key."""
    import os
    import shutil
    import tempfile

    out = os.path.join(
        tempfile.gettempdir(), f"mrs_jsonl_{uuid.uuid4().hex[:12]}"
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    try:
        ev.write.json(out)
        back = spark.read.schema(
            "event_id long, event_type string, value double"
        ).json(out)
        agg = back.groupBy("event_type").agg(
            F.count("*").alias("n_events"), dsum("value", "sum_value")
        )
        rows = agg.collect()
        schema = agg.schema
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@query(
    "scan_orc_roundtrip",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       {sql_dsum_wide('l_extendedprice')} AS sum_price
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC as a source/sink format: a lineitem slice lands in scratch
    ORC and is read back; the aggregate over the ORC read must
    hash-match the SQL over the original parquet, pinning the
    roundtrip value-exact (doubles and strings are stored natively in
    ORC — no text encoding involved).

    Scale shape: ORC is the other mainstream columnar container —
    splittable stripes, footer statistics, predicate pushdown and
    column pruning all work exactly as with parquet, so a deployment
    whose upstream lands ORC plugs into the same loader posture. The
    columns are pruned at write time (select before write) and the
    read-back scan prunes to the aggregate's inputs."""
    import os
    import shutil
    import tempfile

    out = os.path.join(
        tempfile.gettempdir(), f"mrs_orc_{uuid.uuid4().hex[:12]}"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice"
    )
    try:
        li.write.orc(out)
        back = spark.read.orc(out)
        agg = back.groupBy("l_returnflag", "l_linestatus").agg(
            F.count("*").alias("n_rows"),
            # wide-domain sum (r14): the ORC roundtrip stores doubles
            # natively, so the read-back operand is bit-identical and
            # the EXTREME_DRIFT pin at raw ~1e20 clears with dsum_wide
            dsum_wide("l_extendedprice", "sum_price"),
        )
        rows = agg.collect()
        schema = agg.schema
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@query(
    "scan_python_datasource",
    oracle="""
WITH synth AS (
    SELECT i AS doc_id,
           ['en', 'fr', 'de', 'es'][(i % 4) + 1] AS lang,
           100 + (((i % 2147483648) * 2654435761) % 2147483648) % 900
               AS n_chars
    FROM (SELECT unnest(range(0, 10000)) AS i)
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS first_doc
FROM synth
GROUP BY lang
""",
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USER-DEFINED SOURCE: a custom Python DataSource
    (sources/pydatasource.py — Spark 4's pyspark.sql.datasource API)
    registered on the session and read like any built-in format, with
    8 real input partitions planned by the source itself. The rows
    are pinned integer arithmetic over the row id, so the DuckDB
    oracle regenerates the identical relation from range() — a fully
    differentially-checked custom connector (``sf_dir`` is unused:
    the source IS the data). The aggregate on top proves the scan
    composes with ordinary planning (partial aggregation per source
    partition, one shuffle of 4 groups).

    The datasource module is shipped by value (cloudpickle), the
    same worker-shipping discipline as the multimodal decoders —
    executors do not have this repo on sys.path."""
    from pyspark import cloudpickle as _cp

    from map_reduce_subnet_spark.sources import pydatasource as pds

    _cp.register_pickle_by_value(pds)
    spark.dataSource.register(pds.SyntheticDocsDataSource)
    df = (
        spark.read.format("synthetic_docs")
        .option("n_rows", pds.SYNTH_N_ROWS)
        .option("n_parts", pds.SYNTH_N_PARTS)
        .load()
    )
    return df.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
    )


@query(
    "scan_variant_props",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
           AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
""",
)
def scan_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payloads through Spark 4's VARIANT type: the
    JSON props column is parsed ONCE into a variant (parse_json —
    a binary-encoded tree, no re-tokenizing per field access) and
    fields are extracted typed with try_variant_get, then aggregated
    per event type. Complements scan_json_props (per-row string
    extraction): variant is the engine-native path when several
    fields are read from one payload or the payload is scanned
    repeatedly. The oracle reads the same field with DuckDB's JSON
    extraction — the values, not the encoding, are the contract."""
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "sink_python_datasource",
    oracle="""
SELECT CAST(c_nationkey AS BIGINT) AS nation_key, COUNT(*) AS n_custs
FROM customer
GROUP BY c_nationkey
""",
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write side of the custom Python connector
    (sources/pydatasource.py::JsonLinesSinkDataSource): a per-nation
    aggregate is written through the user-defined SINK (each task
    streams its partition to a JSON-lines part file; the driver-side
    commit writes the _SUCCESS marker last), then read back with an
    explicit schema and returned — the sink_roundtrip discipline: the
    write is the side effect, the read-back VALUES are what the
    oracle checks. The glob filter keeps the marker file out of the
    read; the marker's absence after save() would mean the sink's
    commit contract broke, so it is asserted."""
    import shutil

    from pyspark import cloudpickle as _cp

    from map_reduce_subnet_spark.sources import pydatasource as pds

    _cp.register_pickle_by_value(pds)
    spark.dataSource.register(pds.JsonLinesSinkDataSource)
    agg = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nation_key"))
        .agg(F.count("*").alias("n_custs"))
    )
    out = os.path.join(tempfile.gettempdir(), f"mrs_pysink_{uuid.uuid4().hex}")
    os.makedirs(out)
    try:
        agg.write.format("jsonl_sink").option("path", out).mode(
            "append"
        ).save()
        if not os.path.exists(os.path.join(out, "_SUCCESS")):
            raise RuntimeError(
                "jsonl_sink commit contract broken: no _SUCCESS marker"
            )
        back = (
            spark.read.schema("nation_key long, n_custs long")
            .option("pathGlobFilter", "*.jsonl")
            .json(out)
        )
        rows = back.collect()
        schema = back.schema
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@query(
    "join_partition_prune_dynamic",
    oracle=f"""
SELECT l_returnflag, COUNT(*) AS n_rows, {sql_dsum("l_quantity")} AS sum_qty
FROM lineitem
WHERE strftime(l_shipdate, '%Y-%m') IN (
    SELECT DISTINCT strftime(o_orderdate, '%Y-%m')
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-04-01'
)
GROUP BY l_returnflag
""",
)
def join_partition_prune_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the star-join machinery that makes
    a 100 TB fact⋈dim feasible when the partition keys are only known
    at RUNTIME: the month-partitioned lineitem layout (shared with
    scan_partition_prune: _lineitem_by_month) joins a FILTERED
    dim derived from orders on the partition key, and Catalyst
    injects a dynamicpruningexpression into the scan's
    PartitionFilters — the fact side lists only the partition
    directories the dim's surviving keys name, reusing the broadcast
    exchange as the filter source. Unlike scan_partition_prune
    (static literals), no month list appears anywhere in this query.
    tests/test_plans.py asserts the dynamicpruning subscript is
    really in the executed scan."""
    fact = _lineitem_by_month(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1997-04-01").cast("timestamp")
    dim = (
        orders.where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("part_key"))
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), "part_key")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_rows"), dsum("l_quantity", "sum_qty"))
    )


@query(
    "scan_xml_roundtrip",
    oracle="""
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY lang
""",
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML as a source format (Spark 4's built-in xml data source —
    the spark-xml package folded into core): documents metadata lands
    in scratch XML (<doc> row tags) and is read back with an EXPLICIT
    schema + rowTag — same no-inference posture as the CSV/JSONL
    twins (XML inference costs a full parse pass). The aggregate over
    the XML read must hash-match the SQL over the original parquet,
    pinning the roundtrip value-exact for longs and strings.

    Scale shape: XML files split at rowTag boundaries so reads
    parallelize per file; the declared schema prunes unread elements
    at parse time. Only structurally-safe columns travel (ids, lang,
    counts) — free text would need XML escaping, which is the
    writer's job and not under test here."""
    import os
    import shutil
    import tempfile

    out = os.path.join(
        tempfile.gettempdir(), f"mrs_xml_{uuid.uuid4().hex[:12]}"
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    try:
        d.write.format("xml").option("rowTag", "doc").save(out)
        back = (
            spark.read.format("xml")
            .schema("doc_id long, lang string, n_chars long")
            .option("rowTag", "doc")
            .load(out)
        )
        agg = back.groupBy("lang").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        rows = agg.collect()
        schema = agg.schema
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@query(
    "sink_compaction",
    oracle=f"""
SELECT CAST(32 AS BIGINT) AS files_before,
       CAST(4 AS BIGINT) AS files_after,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM events
""",
)
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files COMPACTION — the table-maintenance op every
    streaming/incremental sink eventually needs (a micro-batch sink
    leaves one file per task per trigger; thousands of tiny files
    destroy scan planning and footer-read time): rewrite a
    32-file layout into 4 right-sized files with coalesce (a
    NarrowDependency rewrite — each output file concatenates whole
    input partitions, no shuffle; repartition would shuffle for
    perfect balance) and prove the rewrite LOSSLESS by aggregating
    the compacted table against the original fixture's oracle.

    The measured before/after file counts travel in the output and
    the oracle pins them (32 → 4), so the layout contract itself is
    driver-verified, not just the data. At scale the same op runs
    per partition-directory with a target file size
    (files-per-partition = dir bytes / target), typically from the
    lakehouse's OPTIMIZE entry point."""
    import glob as _glob
    import os
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    # Precondition (same discipline as the all-ASCII byte-feature
    # precondition): the oracle pins files_before=32/files_after=4,
    # which holds only when every round-robin partition is non-empty
    # — Spark emits part files only for non-empty write tasks, so a
    # degenerate fixture would silently under-produce files and
    # guarantee an oracle mismatch. Fail loudly instead (r7 advice).
    n_events = ev.count()
    if n_events < 32:
        raise ValueError(
            "sink_compaction requires >= 32 events so all 32 "
            f"round-robin partitions are non-empty; fixture has {n_events}"
        )
    root = os.path.join(
        tempfile.gettempdir(), f"mrs_compact_{uuid.uuid4().hex[:12]}"
    )
    small, big = os.path.join(root, "small"), os.path.join(root, "big")
    try:
        ev.repartition(32).write.parquet(small)
        files_before = len(_glob.glob(os.path.join(small, "part-*")))
        spark.read.parquet(small).coalesce(4).write.parquet(big)
        files_after = len(_glob.glob(os.path.join(big, "part-*")))
        agg = (
            spark.read.parquet(big)
            .agg(
                F.count("*").alias("n_events"),
                dsum("value", "sum_value"),
            )
            .select(
                F.lit(files_before).cast("long").alias("files_before"),
                F.lit(files_after).cast("long").alias("files_after"),
                "n_events",
                "sum_value",
            )
        )
        rows = agg.collect()
        schema = agg.schema
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def _z_interleave_sql(a: str, b: str, dialect: str, nbits: int = 16) -> str:
    """Bit-interleave two ``nbits``-bit non-negative integer
    expressions into a ``2*nbits``-bit Morton z-value (``a``'s bits at
    even positions, ``b``'s at odd) — the space-filling curve behind
    OPTIMIZE ZORDER clustering. Pure integer shifts/ands, generated
    for both SQL dialects (Spark spells shifts as functions, DuckDB as
    operators) so the oracle reproduces the value bit-for-bit."""
    terms = []
    for i in range(nbits):
        if dialect == "spark":
            terms.append(f"shiftleft((shiftright({a}, {i}) & 1), {2 * i})")
            terms.append(
                f"shiftleft((shiftright({b}, {i}) & 1), {2 * i + 1})"
            )
        else:
            terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def _zorder_oracle() -> str:
    a = "(user_id & 1023)"
    b = "((CAST(epoch_us(ts) AS BIGINT) // 3600000000) & 1023)"
    z = _z_interleave_sql(a, b, "duckdb", nbits=10)
    return f"""
WITH zed AS (
    SELECT CAST({z} >> 14 AS BIGINT) AS zbucket, user_id,
           (CAST(epoch_us(ts) AS BIGINT) // 3600000000) AS hb, value
    FROM events
)
SELECT zbucket,
       COUNT(*) AS n_events,
       MIN(user_id) AS min_user, MAX(user_id) AS max_user,
       MIN(hb) AS min_hour, MAX(hb) AS max_hour,
       {sql_dsum('value')} AS sum_value
FROM zed
GROUP BY zbucket
"""


@query("sink_zorder_cluster", oracle=_zorder_oracle())
def sink_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustered rewrite — the multi-dimensional data-skipping
    layout behind Delta/Iceberg's OPTIMIZE ZORDER BY (user_id, hour):
    each event gets a 32-bit Morton z-value interleaving its user and
    hour bits, the top 6 z-bits pick one of 64 cluster buckets, and
    the table is REWRITTEN partitioned by bucket. Because the z-curve
    keeps both dimensions locally dense, every bucket's (min, max)
    footprint is narrow in BOTH user_id and hour — which is exactly
    what parquet footer stats pruning consumes: a point or range
    predicate on EITHER dimension skips the buckets whose footprint
    misses it, where a single-column sort gives locality in one
    dimension only.

    The timed region includes the partitioned write, the read-back,
    and the per-bucket footprint aggregation from the REWRITTEN
    layout; the oracle regenerates bucket assignment + footprints
    straight from events, so a hash match proves the z-assignment,
    the partitioned write and the read-back all lossless. The
    footprint rows returned ARE the skipping index a scan planner
    would consult.

    Scale shape: one deterministic integer program per row (no
    sampling — unlike repartitionByRange, bucket boundaries are
    data-independent, so the layout is reproducible and the oracle
    can exist), one shuffle on zbucket for the write, footer-sized
    metadata per bucket thereafter. At 100 TB the same rewrite runs
    per partition-directory with more z-bits; the 64-bucket choice
    here keeps the fixture's files right-sized."""
    import glob as _glob
    import shutil

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    a = "(user_id & 1023)"
    b = "((unix_micros(ts) div 3600000000) & 1023)"
    z = _z_interleave_sql(a, b, "spark", nbits=10)
    zed = ev.select(
        F.expr(f"CAST({z} >> 14 AS BIGINT)").alias("zbucket"),
        "user_id",
        F.expr("(unix_micros(ts) div 3600000000)").alias("hb"),
        "value",
    )
    root = os.path.join(
        tempfile.gettempdir(), f"mrs_zorder_{uuid.uuid4().hex[:12]}"
    )
    try:
        zed.write.partitionBy("zbucket").parquet(root)
        back = spark.read.parquet(root)
        agg = (
            back.groupBy(F.col("zbucket").cast("long").alias("zbucket"))
            .agg(
                F.count("*").alias("n_events"),
                F.min("user_id").alias("min_user"),
                F.max("user_id").alias("max_user"),
                F.min("hb").alias("min_hour"),
                F.max("hb").alias("max_hour"),
                dsum("value", "sum_value"),
            )
        )
        out = agg.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


@query(
    "scan_schema_evolution",
    oracle=f"""
SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS priority,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS sum_price
FROM orders
GROUP BY 1
""",
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION on read (``mergeSchema``): an old writer laid
    down parquet files with 3 columns, a newer writer added
    ``o_orderpriority`` — one read reconciles both generations into
    the union schema, old files surfacing NULL for the column they
    predate. This is the additive-evolution contract every long-lived
    ingest directory needs (Delta/Iceberg formalize it in metadata;
    plain parquet directories get it from footer merging), and the
    aggregate over the merged read must hash-match recomputing the
    same NULL-for-old-rows program from the source table — proving no
    rows were dropped, duplicated, or mis-aligned across generations.

    Scale notes: ``mergeSchema`` reconciles footers from a sample of
    files on the DRIVER at planning time — O(files), the reason it is
    off by default; at 100 TB you either pin the evolved schema
    explicitly (``.schema(...)`` — zero planning cost, same row-level
    semantics, NULL-fills missing columns per file) or let a table
    format carry it in metadata. The row-level machinery this query
    pins — per-file column resolution + NULL fill in the vectorized
    reader — is identical in all three, so the correctness story
    transfers; scan-local, one shuffle for the final aggregate."""
    o = load_table(spark, sf_dir, "orders")
    root = os.path.join(
        tempfile.gettempdir(), f"mrs_evolve_{uuid.uuid4().hex[:12]}"
    )
    # generation 0: the pre-evolution writer (3 columns)
    o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).write.parquet(os.path.join(root, "gen0"))
    # generation 1: the post-evolution writer (adds o_orderpriority)
    o.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    ).write.parquet(os.path.join(root, "gen1"))
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(root)
    )
    out = (
        merged.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", "sum_price"),
        )
    )
    return _materialize_and_clean(spark, out, root)


@query(
    "scan_csv_malformed",
    oracle=f"""
SELECT COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_corrupt,
       CAST(SUM(CASE WHEN o_orderkey % 7 <> 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropmalformed,
       {sql_dsum('CASE WHEN o_orderkey % 7 <> 0 THEN o_totalprice END')}
           AS sum_price_good,
       TRUE AS failfast_raises
FROM orders
""",
)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MALFORMED-RECORD handling across the CSV reader's three parse
    modes — the dirty-ingest contract every real pipeline hits before
    its first clean batch. A scratch CSV is laid down DISTRIBUTEDLY
    (rows rendered to text executor-side — no driver materialization)
    with every 7th order's price field deterministically corrupted to
    a non-numeric token, then:

    - **PERMISSIVE** (default): corrupt rows survive with NULL
      fields + the raw line captured in the
      ``columnNameOfCorruptRecord`` column — counted, and the good
      rows' price sum must match recomputing the same %7 program on
      the source table (nothing dropped, nothing double-read);
    - **DROPMALFORMED**: row count must equal exactly the good rows;
    - **FAILFAST**: the read must RAISE (pinned as a boolean — the
      mode a pipeline uses when corruption means stop-the-world).

    Scale notes: mode handling is per-record inside the distributed
    parse — no driver involvement, no second pass (contrast
    inferSchema); the corrupt-record column materializes only rows
    that fail the schema, so the memory cost tracks the corruption
    rate, not the table. The caveat the docs bury: Spark requires the
    corrupt-record column present in the declared schema, and
    DROPMALFORMED counts need an action over the full parse — both
    exercised here."""
    o = load_table(spark, sf_dir, "orders")
    root = os.path.join(
        tempfile.gettempdir(), f"mrs_badcsv_{uuid.uuid4().hex[:12]}"
    )
    price_field = F.when(
        F.col("o_orderkey") % 7 == 0, F.lit("notanumber")
    ).otherwise(F.col("o_totalprice").cast("string"))
    o.select(
        F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            price_field,
        ).alias("value")
    ).write.text(root)
    schema = (
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "_bad string"
    )
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(root)
    )
    agg = permissive.agg(
        F.count("*").alias("n_total"),
        F.count("_bad").alias("n_corrupt"),
        dsum("o_totalprice", "sum_price_good"),
    )
    # CSV malformed-detection only sees the columns the parser is
    # asked for: a bare .count() (or any aggregate Catalyst can
    # rewrite to count(*) — count(coalesce(c, 0)) included) prunes
    # every column, parses nothing, and drops nothing. count(c) is
    # the minimal aggregate that genuinely REQUIRES the corruptible
    # column, forcing the parse DROPMALFORMED needs; surviving rows
    # always carry a non-NULL price, so count(c) = surviving rows.
    # This pruning interaction is exactly the caveat pinned here.
    dropped = (
        spark.read.schema(
            "o_orderkey long, o_custkey long, o_totalprice double"
        )
        .option("mode", "DROPMALFORMED")
        .csv(root)
        .agg(F.count("o_totalprice").alias("c"))
        .collect()[0]["c"]
    )
    try:
        spark.read.schema(
            "o_orderkey long, o_custkey long, o_totalprice double"
        ).option("mode", "FAILFAST").csv(root).collect()
        failfast_raises = False
    except Exception as ex:
        # Only the intended malformed-record abort counts as a pass;
        # an unrelated failure (missing path, analysis error) must
        # surface, not masquerade as the pinned contract (ADVICE r8).
        msg = str(ex)
        if not ("Malformed" in msg or "MALFORMED" in msg or "FAILFAST" in msg):
            raise
        failfast_raises = True
    out = agg.select(
        "n_total",
        "n_corrupt",
        F.lit(dropped).cast("long").alias("n_dropmalformed"),
        "sum_price_good",
        F.lit(failfast_raises).alias("failfast_raises"),
    )
    return _materialize_and_clean(spark, out, root)


@query(
    "scan_rowgroup_skip",
    oracle=f"""
SELECT COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value,
       TRUE AS multi_rowgroup,
       TRUE AS stats_ordered,
       TRUE AS skippable_exists
FROM events
WHERE user_id < 8
""",
)
def scan_rowgroup_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARQUET ROW-GROUP STATISTICS SKIPPING — the data-skipping tier
    between partition pruning (scan_partition_prune: whole
    directories) and Z-order clustering (sink_zorder_cluster:
    multi-column locality): events are rewritten SORTED by user_id
    into a single file with deliberately small row groups, so each
    row group's min/max user_id footer statistics cover a narrow
    disjoint range and a selective predicate can skip most groups
    without reading their pages — at 100 TB, sort-on-write plus
    footer stats is the difference between scanning a partition and
    scanning a fraction of it.

    The skipping is made OBSERVABLE, not assumed (the bound-checked
    oracle pattern): the writer's footer is re-read via pyarrow
    (driver-side metadata, O(row groups)) and the oracle pins three
    booleans TRUE — the file really has >1 row group, the per-group
    [min,max] user_id ranges are non-overlapping ascending (the sort
    actually reached the footer stats), and at least one group lies
    wholly outside the predicate (skippable). The aggregate over the
    filtered read-back hash-matches the direct scan, proving
    skipping loses nothing. The predicate itself reaches the scan as
    a PushedFilter (linted in-query, the scan_filter_pushdown
    discipline).

    Scale shape: the rewrite is one range-sort shuffle (the same
    sort a real ingest pays once at write time to make every later
    read cheap); the probe read is a pruned single-file scan."""
    import pyarrow.parquet as _pq

    from map_reduce_subnet_spark.plans import formatted_plan

    ev = load_table(spark, sf_dir, "events")
    root = os.path.join(
        tempfile.gettempdir(), f"mrs_rgskip_{uuid.uuid4().hex[:12]}"
    )
    (
        ev.select("event_id", "user_id", "value")
        .repartition(1)
        .sortWithinPartitions("user_id", "event_id")
        # tiny block size so even the sf0.001 fixture (~500 rows)
        # splits into multiple row groups — the knob a deployment
        # sets to ~128MB; the skipping mechanics are identical
        .write.option("parquet.block.size", 4096)
        .parquet(root)
    )
    part = next(
        os.path.join(root, n)
        for n in sorted(os.listdir(root))
        if n.endswith(".parquet")
    )
    md = _pq.ParquetFile(part).metadata
    uid_idx = md.schema.names.index("user_id")
    ranges = [
        (
            md.row_group(g).column(uid_idx).statistics.min,
            md.row_group(g).column(uid_idx).statistics.max,
        )
        for g in range(md.num_row_groups)
    ]
    multi = len(ranges) > 1
    ordered = all(
        ranges[i][1] <= ranges[i + 1][0] for i in range(len(ranges) - 1)
    )
    skippable = any(lo > 7 for lo, _ in ranges)
    probe = spark.read.parquet(root).where(F.col("user_id") < 8)
    plan = formatted_plan(probe)
    if "PushedFilters" not in plan or "LessThan(user_id,8)" not in plan:
        raise AssertionError(
            "scan_rowgroup_skip: the range predicate must reach the "
            f"parquet scan as a PushedFilter; plan:\n{plan}"
        )
    agg = probe.agg(
        F.count("*").alias("n_events"), dsum("value", "sum_value")
    ).select(
        "n_events",
        "sum_value",
        F.lit(multi).alias("multi_rowgroup"),
        F.lit(ordered).alias("stats_ordered"),
        F.lit(skippable).alias("skippable_exists"),
    )
    return _materialize_and_clean(spark, agg, root)


@query(
    "sink_dynamic_partition_overwrite",
    oracle=f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_dsum(
           "value * (CASE WHEN event_type IN ('click', 'view') "
           "THEN CAST(2 AS DOUBLE) ELSE CAST(1 AS DOUBLE) END)"
       )} AS sum_value
FROM events
GROUP BY event_type
""",
)
def sink_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DYNAMIC PARTITION OVERWRITE — the idempotent-backfill write
    every partitioned 100 TB table lives by: a recomputed batch
    REPLACES exactly the partitions it carries rows for and leaves
    every other partition untouched (static overwrite mode would drop
    the whole table; append would duplicate). Rehearsal: the events
    table is written partitioned by event_type, then a revision batch
    (the 'click'/'view' partitions recomputed with value×2 — ×2 is
    the reference's forward transform, neurons/miner.py:146, and
    exact in IEEE doubles) is overwritten in dynamic mode; the
    read-back aggregate proves BOTH halves of the contract in one
    hash — touched partitions carry exactly the revised rows (no
    append-duplication: counts match the source), untouched
    partitions carry exactly the original rows (no static-mode drop).

    Grounding: periodic weight sink with resync (reference
    neurons/validator.py:149-163, miner.py:179-180) — each sink
    replaces the stale slice, never the whole history.

    Scale shape: the write shuffles nothing (partitionBy on a scan is
    a per-task dynamic-partition write); dynamic mode prunes the
    delete set to the partitions present in the incoming batch, so a
    one-day backfill on a 10-year table touches one directory. The
    read-back is a partition-pruned scan + one partial+final agg.
    A NULL partition key round-trips through the writer's default
    partition dir and comes back NULL — the oracle's NULL group
    pins that."""
    import shutil

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    root = os.path.join(
        tempfile.gettempdir(), f"mrs_dpo_{uuid.uuid4().hex[:12]}"
    )
    try:
        ev.write.partitionBy("event_type").parquet(root)
        revision = ev.where(
            F.col("event_type").isin("click", "view")
        ).withColumn("value", F.col("value") * F.lit(2.0))
        (
            revision.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("event_type")
            .parquet(root)
        )
        # explicit read-back schema: schema inference over a
        # partition layout is a driver-side footer sweep at scale,
        # and an all-empty layout (routine for an empty upstream
        # slice) has no footers to infer from at all
        agg = (
            spark.read.schema(
                "event_id long, user_id long, value double, "
                "event_type string"
            )
            .parquet(root)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                dsum("value", "sum_value"),
            )
        )
        rows = agg.collect()
        schema = agg.schema
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, schema)
