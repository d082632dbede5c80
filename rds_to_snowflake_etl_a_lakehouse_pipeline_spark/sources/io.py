"""Sources and sinks (SURVEY.md §2.1, S1–S8).

The reference reads RDS tables through the Glue Catalog and writes
S3 Parquet with catalog registration (bronze/crm_cust_info_bronze.py:24-47)
plus a Snowflake sink for gold (dim_customers_gold.py:72-81). Here the
Spark session catalog plays the Glue Catalog's role: :func:`write_table`
creates and registers a table in one ``CREATE TABLE … AS SELECT``,
``spark.table`` resolves. JDBC reads are partitioned so a
1000-executor cluster ingests in parallel instead of through one
connection.

Table contracts. Every standing index, stream-state table, sketch
and batch sink records its build parameters as ``spark_graft.index.*``
table properties, and this module is the only one that reads or
writes them:

- **one spec per kind** (:data:`TABLE_SPECS`): the required keys with
  their types, the optional ones (a sink's ``stream_id`` and
  ``pending_fold``) and a ``format`` number. Every create path passes
  ``kind`` and its keys to :func:`rewrite_layout` or
  ``write_table(properties=)``, which refuse a contract that misses a
  key and stamp the spec's ``format``;
- **build / reband / compact** (and IVF's centroid-matrix rotations:
  build, retrain, split, merge) rewrite through :func:`rewrite_layout`,
  which writes the rows in the layout the contract records and
  commits the contract as the new table's properties in the same
  statement, so data and contract are one commit; a build that leaves
  ``n_buckets`` unset pins its rows once and gets a count sized from
  the pin's measured bytes (:func:`_sized_buckets`), and every later
  rewrite keeps it;
- **probe / append / health** read the contract through
  :func:`read_contract` (one ``SHOW TBLPROPERTIES``), which returns
  the typed values or raises naming the table and the missing key,
  kind or format; :func:`check_table_meta` also raises when a
  caller's explicit parameter differs from the recorded one, because
  a silent mismatch deduplicates or probes nothing;
- **health** is a cheap dict (``*_index_health`` / ``health()`` /
  the append's returned drift dict) with a ``*_recommended`` flag the
  pipeline can act on (or an ``auto_*`` knob that acts on it).

A new table kind adds its spec and implements those verbs against
these helpers — the lifecycle itself is not re-invented per family.
"""

from __future__ import annotations

import os
import re
import uuid
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S5: path-based parquet scan (recursive; pushdown/pruning free)."""
    return spark.read.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Path-based ORC scan. Same columnar pushdown/pruning class as
    parquet (ORC ships min/max stripe stats and optional bloom
    filters); the lake interchange format when the surrounding stack is
    Hive/Trino-flavored rather than parquet-flavored."""
    return spark.read.orc(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """S4: CSV with explicit schema (no inference job at 100 TB — pass the
    DDL; inference reads the data twice). Mirrors the reference's headered
    bulk loads (crm_data_load.sql:2-20, ``IGNORE 1 LINES``).
    """
    reader = spark.read.options(header=str(header).lower(), **options)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """JSON-lines source with explicit schema (inference = a full extra
    pass at 100 TB; always pass the DDL in production)."""
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    **options: str,
) -> DataFrame:
    """S2/S3: JDBC source (MySQL ``jdbc:mysql://``, Postgres
    ``jdbc:postgresql://``). With ``partition_column``, Spark opens
    ``num_partitions`` parallel cursors — the scale path for RDS
    ingest; without it the read is single-connection (dev only).

    Bounds are AUTO-DERIVED when omitted: giving
    ``partition_column`` with EITHER bound missing runs ONE pushed-down
    ``SELECT MIN(col), MAX(col)`` probe over the same connection and
    fills the missing side(s) — an explicitly passed bound is kept and
    only its counterpart comes from the probe; the probe is skipped
    only when BOTH bounds are passed (use that when the table is hot
    and an index-backed MIN/MAX would still be a scan). These are the
    numbers the reference's Glue catalog supplied implicitly
    (bronze/crm_cust_info_bronze.py:24-27). An empty table falls back
    to a single-connection read (no rows to stride over).

    Because the probe interpolates ``table`` and ``partition_column``
    into SQL text, the auto-bounds path REQUIRES both to be
    identifier-shaped (dotted ``schema.table`` allowed) and raises
    ``ValueError`` otherwise — the injection surface is closed rather
    than trusted. Callers with exotic names (quoted specials) or
    subquery dbtables must pass both bounds explicitly; the non-probe
    path hands ``table`` to Spark's JDBC reader untouched.

    Requires the matching JDBC driver jar on the classpath. Round-trip
    (write + 4-cursor partitioned read, manual AND auto bounds) is
    exercised against embedded Derby — the driver Spark ships — in
    ``tests/test_io.py``; only the URL/driver differ for
    MySQL/Postgres.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None and (
        lower_bound is None or upper_bound is None
    ):
        # identifier gate BEFORE interpolating into the probe SQL:
        # table/partition_column may carry catalog-config strings, and
        # an unvalidated value would splice arbitrary SQL into the
        # probe connection. $ and # cover Oracle/temp-table idioms.
        _ident = re.compile(r"[A-Za-z_][A-Za-z0-9_$#]*")
        if not all(_ident.fullmatch(seg) for seg in table.split(".")) or not table:
            raise ValueError(
                "read_jdbc auto-bounds probe requires an identifier-"
                f"shaped table (got {table!r}); pass lower_bound and "
                "upper_bound explicitly for quoted/subquery dbtables"
            )
        if not _ident.fullmatch(partition_column):
            raise ValueError(
                "read_jdbc auto-bounds probe requires an identifier-"
                f"shaped partition_column (got {partition_column!r}); "
                "pass both bounds explicitly to skip the probe"
            )
        # one-row, one-connection bounds probe, computed BY the
        # database (MIN/MAX push down; nothing but two values move).
        # Quote the column through Spark's own dialect registry so
        # case-sensitive identifiers survive (Spark's JDBC writer
        # quotes column names at CREATE, so an unquoted probe would
        # get case-folded by the database — backticks on MySQL,
        # double quotes on Postgres/Derby).
        try:
            qcol = (
                spark._jvm.org.apache.spark.sql.jdbc.JdbcDialects.get(url)
                .quoteIdentifier(partition_column)
            )
        except Exception:  # non-JVM session stub: fall back unquoted
            qcol = partition_column
        probe = (
            spark.read.format("jdbc")
            .option("url", url)
            .option(
                "dbtable",
                f"(SELECT MIN({qcol}) AS lo, "
                f"MAX({qcol}) AS hi FROM {table}) bounds_probe",
            )
        )
        for k, v in options.items():
            probe = probe.option(k, v)
        row = probe.load().first()
        lo = row[0] if lower_bound is None else lower_bound
        hi = row[1] if upper_bound is None else upper_bound
        if lo is None or hi is None:  # empty table: nothing to stride
            partition_column = None
        else:
            lower_bound, upper_bound = lo, hi
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


# tables whose pre-write crash-recovery probe already ran this
# process (see write_table); keyed by the caller's table string, so a
# qualified/unqualified alias costs at most one duplicate probe
_HEAL_CHECKED: set[str] = set()


def write_table(
    df: DataFrame,
    table: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
    compression: str = "snappy",
    bloom_filter_cols: list[str] | None = None,
    format: str = "parquet",
    properties: dict | None = None,
) -> None:
    """S6: Parquet+Snappy table write with catalog registration — the
    Spark-native form of the reference's ``getSink(...glueparquet,
    snappy) + setCatalogInfo`` (bronze/crm_cust_info_bronze.py:37-47).

    The reference writes unpartitioned (``partitionKeys=[]``); pass
    ``partition_by`` (e.g. order-date month on facts) to get partition
    pruning at scale, and/or ``bucket_by=(n, cols)`` to hash-bucket +
    sort on the join key: two tables bucketed the same way join with
    ZERO exchanges (the shuffle is paid once at write time, amortized
    over every later join — the co-located-join strategy for repeated
    fact⋈fact joins at 100 TB).

    Every table is created by one ``CREATE TABLE … AS SELECT``
    (:func:`_create_as_select`) that carries its layout and
    ``properties``: the table appears in the catalog only once its
    data is written, already stamped with its contract (recorded
    under ``spark_graft.index.*`` after the kind's spec checked it,
    read back by :func:`read_contract`). An append to an existing
    table keeps that table's properties.

    Overwrite is fail-safe (write-then-swap): when the target already
    exists, the new data is fully materialized into a ``__stage`` table
    first, and only then is the old table dropped and the stage renamed
    into place (``ALTER TABLE RENAME`` moves the managed location and
    keeps the stage's properties). A failed write therefore never
    destroys existing data, and a plan that READS the target table
    overwrites it correctly — the read is consumed by the stage write
    before the drop. The only destructive-before-write path left is
    the LOCATION_ALREADY_EXISTS retry, which clears a stale directory
    that is provably unregistered (an orphan from a previous session
    whose in-memory catalog is gone).

    ``format``: ``"parquet"`` (default) or ``"orc"`` — both columnar
    with snappy compression, stats-based skipping, and per-column bloom
    filters (ORC spells them ``orc.bloom.filter.columns``); the
    stage-and-swap / partition / bucket semantics are identical.
    """
    if format not in ("parquet", "orc"):
        raise ValueError(f"unsupported table format {format!r} (parquet|orc)")
    if properties is not None:
        properties = _recorded(table, properties)
    spark = df.sparkSession
    options = {"compression": compression}
    if bloom_filter_cols and format == "orc":
        options["orc.bloom.filter.columns"] = ",".join(bloom_filter_cols)
    elif format == "parquet":
        for c in bloom_filter_cols or []:
            # point-lookup row-group skipping on unsorted high-cardinality
            # keys (see sources/layout.py::bloom_filtered_write for the
            # rationale + the reader-level proof test)
            options[f"parquet.bloom.filter.enabled#{c}"] = "true"

    def create(name: str) -> None:
        _create_as_select(
            df, name, format, options, partition_by, bucket_by, properties
        )

    # self-heal a swap interrupted between its DROP and RENAME: the
    # stage holds the fully-materialized new data and its contract
    # (the create registers the stage only on commit) and the table
    # name dangles — complete the rename so this write (and any reader
    # racing it) sees the committed table again. EVERY mode heals
    # first: an append to a dangling base would otherwise create a
    # fresh table of just the appended rows and flip the committed
    # stage into "stale" — exactly the content the sweep would then
    # reclaim. Memoized per process: the interrupted states the heal
    # repairs were left by an earlier session (a crash killed the
    # session that created them; our own completed writes below leave
    # the catalog consistent, and a write that raises mid-swap
    # un-memoizes so its retry re-probes) — so one catalog probe per
    # table amortizes the per-write cost to zero on the streaming
    # append hot path. maintenance.health_sweep flags the same state
    # for tables that are never written again.
    if table not in _HEAL_CHECKED:
        heal_interrupted_swap(spark, table)
        _HEAL_CHECKED.add(table)
    try:
        if not spark.catalog.tableExists(table):
            _save_with_orphan_retry(spark, create, table)
        elif mode == "overwrite":
            stage = f"{table}__stage"
            spark.sql(f"DROP TABLE IF EXISTS {stage}")
            _save_with_orphan_retry(spark, create, stage)
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            spark.sql(f"ALTER TABLE {stage} RENAME TO {table}")
            if partition_by:
                # the rename moves the managed directory but NOT the
                # catalog's partition entries — without recovery a
                # swapped partitioned table lists zero partitions and
                # reads empty
                spark.sql(f"MSCK REPAIR TABLE {table}")
        else:
            writer = df.write.mode(mode).format(format).options(**options)
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            if bucket_by:
                n, cols = bucket_by
                writer = writer.bucketBy(n, *cols).sortBy(*cols)
            _save_with_orphan_retry(spark, writer.saveAsTable, table)
    except BaseException:
        # the write may have died inside the swap (stage committed,
        # base dropped) — a caught-and-retried write must re-probe
        _HEAL_CHECKED.discard(table)
        raise


def _kv_sql(kv: dict) -> str:
    """``'k'='v', …`` for an OPTIONS or TBLPROPERTIES clause, each
    key and value a quoted Spark SQL string literal."""

    def q(v) -> str:
        return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"

    return ", ".join(f"{q(k)}={q(v)}" for k, v in kv.items())


def _meta_props(props: dict) -> dict:
    """Contract keys namespaced as table properties."""
    return {f"{_INDEX_META_PREFIX}{k}": _render(v) for k, v in props.items()}


def _create_as_select(
    df: DataFrame,
    table: str,
    format: str,
    options: dict,
    partition_by: list[str] | None,
    bucket_by: tuple[int, list[str]] | None,
    properties: dict | None,
) -> None:
    """Create ``table`` from ``df`` in one ``CREATE TABLE … AS SELECT``
    that carries the options, partitioning, bucketing and properties —
    the one create path of :func:`write_table`. ``df`` is read through
    a temp view named uniquely per call (the medallion runner writes
    from concurrent threads). The view is dropped from the session
    catalog directly: ``Catalog.dropTempView`` would also uncache
    ``df``, and a caller that cached it for a second write (the
    runner's warehouse copy) would recompute it."""
    spark = df.sparkSession

    def cols(names: list[str]) -> str:
        return ", ".join(f"`{c}`" for c in names)

    clauses = [f"USING {format}", f"OPTIONS ({_kv_sql(options)})"]
    if partition_by:
        clauses.append(f"PARTITIONED BY ({cols(partition_by)})")
    if bucket_by:
        n, bcols = bucket_by
        clauses.append(
            f"CLUSTERED BY ({cols(bcols)}) SORTED BY ({cols(bcols)}) "
            f"INTO {int(n)} BUCKETS"
        )
    if properties:
        clauses.append(f"TBLPROPERTIES ({_kv_sql(_meta_props(properties))})")
    view = f"_sg_create_{uuid.uuid4().hex}"
    df.createOrReplaceTempView(view)
    try:
        spark.sql(
            f"CREATE TABLE {table} {' '.join(clauses)} AS SELECT * FROM {view}"
        )
    finally:
        spark._jsparkSession.sessionState().catalog().dropTempView(view)


def heal_interrupted_swap(spark: SparkSession, table: str) -> bool:
    """Complete a :func:`write_table` overwrite that crashed between
    dropping the old table and renaming ``{table}__stage`` into place:
    the stage is the COMMITTED new content with its properties (the
    create registers it only after the write succeeds), so when the
    base name dangles the rename is strictly recovery — without it the
    data is unreachable and every read of ``table`` fails, and after
    it the table carries the data and contract the overwrite
    committed. Partition entries
    are re-derived after the move (the rename relocates the managed
    directory but not the catalog's partition list). Returns True when
    a swap was completed. The OTHER interrupted state — base AND stage
    both present (crash between the stage commit and the drop) — is
    deliberately NOT completed here: the overwrite never returned to
    its caller, so the current base table stays authoritative and the
    next overwrite (or ``maintenance.run_maintenance``) discards the
    stale stage. When nothing is pending, the call still repairs a
    half-completed PREVIOUS heal/swap (renamed but killed before its
    MSCK): a partitioned base listing zero partition entries is
    re-repaired, closing the recovery verb's own crash window."""
    stage = f"{table}__stage"
    if spark.catalog.tableExists(table) or not spark.catalog.tableExists(stage):
        # also repair the heal's OWN crash window: a heal (or swap)
        # killed between its RENAME and MSCK leaves a partitioned base
        # whose partition entries still point into the retired
        # ``__stage`` directory (the rename moves the managed dir and
        # retargets the TABLE location, but each partition keeps its
        # old absolute path) — reads silently return empty until
        # repaired. Detect-and-repair here, which every write_table
        # call (any mode) routes through, so the table self-repairs on
        # its next touch. Catalog-only cost: one listColumns, and for
        # partitioned tables one SHOW PARTITIONS + two DESCRIBEs.
        if spark.catalog.tableExists(table) and any(
            c.isPartition for c in spark.catalog.listColumns(table)
        ):
            if _partitions_stale(spark, table):
                spark.sql(f"MSCK REPAIR TABLE {table}")
        return False
    spark.sql(f"ALTER TABLE {stage} RENAME TO {table}")
    if any(c.isPartition for c in spark.catalog.listColumns(table)):
        spark.sql(f"MSCK REPAIR TABLE {table}")
    return True


def _partitions_stale(spark: SparkSession, table: str) -> bool:
    """True when a partitioned table's entries need MSCK: zero entries
    registered, or the FIRST entry's location is not under the table's
    root directory (a crashed rename leaves EVERY entry pointing into
    the retired ``__stage`` path, so one probe decides). Best-effort:
    an unparsable partition spec (exotic escaped values) falls back to
    "stale" — MSCK is idempotent and merely re-lists the table dir."""
    first = spark.sql(f"SHOW PARTITIONS {table}").head(1)
    if not first:
        return True
    try:
        from urllib.parse import unquote

        spec = ", ".join(
            "{}='{}'".format(k, unquote(v).replace("'", "\\'"))
            for k, v in (
                kv.split("=", 1) for kv in first[0][0].split("/")
            )
        )
        part_loc = next(
            r["data_type"]
            for r in spark.sql(
                f"DESCRIBE FORMATTED {table} PARTITION ({spec})"
            ).collect()
            if r["col_name"] == "Location"
        )
        root = next(
            r["data_type"]
            for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
            if r["col_name"] == "Location"
        )
        # trailing slash on the root avoids the "{table}__stage is a
        # string-prefix of {table}" trap
        return not part_loc.startswith(root.rstrip("/") + "/")
    except Exception:  # noqa: BLE001 — detection only; repair is safe
        return True


def _save_with_orphan_retry(spark: SparkSession, save, table: str) -> None:
    """``save(table)`` with one retry for LOCATION_ALREADY_EXISTS: the
    table is absent from the catalog but its managed directory survives on
    local disk (previous session's in-memory catalog is gone). Clear
    exactly that stale directory and retry; every other error re-raises
    untouched with no deletion.
    """
    try:
        save(table)
        return
    except Exception as e:  # noqa: BLE001 — re-raised unless the orphan case
        error_class = getattr(e, "getErrorClass", lambda: None)() or ""
        if "LOCATION_ALREADY_EXISTS" not in error_class and (
            "LOCATION_ALREADY_EXISTS" not in str(e)
        ):
            raise
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    parts = table.split(".")
    db = parts[-2] if len(parts) >= 2 else spark.catalog.currentDatabase()
    loc = urlparse(spark.catalog.getDatabase(db).locationUri)
    if loc.scheme in ("", "file"):
        stale = os.path.join(loc.path, parts[-1])
        if os.path.exists(stale):
            shutil.rmtree(stale)
    save(table)


_INDEX_META_PREFIX = "spark_graft.index."


class TableSpec(NamedTuple):
    """What a table of one kind records: the required contract keys
    with their types, the keys it may lack, and the on-disk format
    its create path writes (a table recording another format is
    refused)."""

    keys: dict
    optional: dict = {}
    format: int = 1


_BUCKETED = {"n_buckets": int, "bucket_cols": str}
_BANDED = {**_BUCKETED, "skew_epoch": int}

# one spec per table kind; ``kind`` and ``format`` are recorded by all
TABLE_SPECS: dict[str, TableSpec] = {
    "exact": TableSpec({**_BUCKETED, "content_sig": str}),
    "span": TableSpec({**_BUCKETED, "k": int}),
    "minhash": TableSpec(
        {**_BANDED, "num_hashes": int, "bands": int, "shingle_n": int, "impl": str},
        format=2,
    ),
    "hamming_fp": TableSpec({**_BANDED, "band_bits": int}),
    "er": TableSpec(_BANDED),
    "ivf": TableSpec({
        **_BUCKETED, "partition_cols": str, "impl": str, "pq": bool, "dim": int,
        "base_n_clusters": int, "n_clusters": int, "centroid_fp": str,
        "mean_dist": float, "p95_dist": float, "n_vectors": int,
    }),
    "pq_codebook": TableSpec({"m": int, "n_codes": int, "dim": int, "seed": int}),
    # sessionize and frontier state: rows live in the partition this
    # modulus hashed their key into
    "session_state": TableSpec({"state_partitions": int}),
    # 0 = unbucketed
    "distinct_state": TableSpec({"state_buckets": int}),
    # the fold manifest is transient, and a sink created by a direct
    # call adopts the first stream id that lands in it
    "batch_sink": TableSpec({}, {"stream_id": str, "pending_fold": str}),
    "cms": TableSpec({"depth": int, "width": int, "seed": int, "hash_impl": str}),
    "hll": TableSpec({"p": int, "hash_impl": str}),
    "hist": TableSpec({"lo": float, "hi": float, "n_bins": int}),
}


def _render(v) -> str:
    return str(v).lower() if isinstance(v, bool) else str(v)


def _parse(typ: type, raw: str):
    return raw == "true" if typ is bool else typ(raw)


def _spec(table: str, kind) -> TableSpec:
    if kind not in TABLE_SPECS:
        raise ValueError(
            f"{table!r} has no contract of a known kind (kind={kind!r}): no "
            "parameters or layout metadata to read or record"
        )
    return TABLE_SPECS[kind]


def _recorded(table: str, contract: dict) -> dict:
    """``contract`` as ``table`` will record it: checked against its
    kind's spec (every required key, no unknown one) and stamped with
    the spec's format."""
    spec = _spec(table, contract.get("kind"))
    missing = sorted(set(spec.keys) - set(contract))
    unknown = sorted(set(contract) - {"kind", "format", *spec.keys, *spec.optional})
    if missing or unknown:
        raise ValueError(
            f"{contract['kind']} contract for {table!r}: missing {missing}, "
            f"unknown {unknown}"
        )
    return {**contract, "format": spec.format}


def set_table_meta(spark: SparkSession, table: str, **props) -> None:
    """Record contract keys on an existing table without rewriting it:
    a sink's ``stream_id`` and ``pending_fold``. A table's contract
    rides its create (``write_table(..., properties=)``)."""
    spark.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES ({_kv_sql(_meta_props(props))})"
    )


def unset_table_meta(spark: SparkSession, table: str, key: str) -> None:
    """Drop an optional contract key (the fold manifest once a fold
    completes)."""
    spark.sql(
        f"ALTER TABLE {table} UNSET TBLPROPERTIES IF EXISTS "
        f"('{_INDEX_META_PREFIX}{key}')"
    )


def get_table_meta(spark: SparkSession, table: str) -> dict[str, str]:
    """The raw ``spark_graft.index.*`` properties of ``table`` as
    strings, unchecked: one ``SHOW TBLPROPERTIES``. Engine code reads
    contracts through :func:`read_contract`."""
    rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    plen = len(_INDEX_META_PREFIX)
    return {
        r["key"][plen:]: r["value"]
        for r in rows
        if r["key"].startswith(_INDEX_META_PREFIX)
    }


def recorded_kind(spark: SparkSession, table: str) -> str | None:
    """The kind ``table`` records, or None for a table without a
    contract (user data). One catalog read; the contract itself is
    not checked."""
    return get_table_meta(spark, table).get("kind")


def read_contract(spark: SparkSession, table: str, kind: str | None = None) -> dict:
    """The contract ``table`` records, typed by its kind's spec
    (:data:`TABLE_SPECS`): ``{"kind", "format", key: value, …}`` with
    every required key and whichever optional keys are set. One
    ``SHOW TBLPROPERTIES``. Raises ``ValueError`` naming the table
    when it is not of ``kind`` (any known kind when None), records
    another format than its spec's, or lacks a required key; such a
    table has to be rebuilt by its create path."""
    meta = get_table_meta(spark, table)
    kind = kind or meta.get("kind")
    spec = _spec(table, kind)
    missing = sorted(set(spec.keys) - set(meta))
    if meta.get("kind") != kind or meta.get("format") != str(spec.format) or missing:
        raise ValueError(
            f"{table!r} is not a format-{spec.format} {kind} table: it records "
            f"kind={meta.get('kind')!r}, format={meta.get('format')!r} and "
            f"lacks {missing} (rebuild the table)"
        )
    types = {**spec.keys, **spec.optional}
    return {
        "kind": kind,
        "format": spec.format,
        **{k: _parse(t, meta[k]) for k, t in types.items() if k in meta},
    }


def check_table_meta(spark: SparkSession, table: str, kind: str, **expected) -> dict:
    """:func:`read_contract` for a ``kind`` table, then validate the
    caller's parameters against it: every non-None value in
    ``expected`` must equal the recorded one, or ``ValueError`` lists
    each mismatch. Returns the contract, so callers take the
    parameters they left unset (e.g. ``n_buckets``) from it. The
    contract always describes the data: both were committed by the
    same create (:func:`rewrite_layout`)."""
    meta = read_contract(spark, table, kind)
    types = TABLE_SPECS[kind].keys
    bad = {
        k: (meta[k], v)
        for k, v in expected.items()
        if v is not None and meta[k] != _parse(types[k], _render(v))
    }
    if bad:
        detail = ", ".join(
            f"{k}: index has {have!r}, caller passed {want!r}"
            for k, (have, want) in sorted(bad.items())
        )
        raise ValueError(
            f"index contract mismatch on table {table!r}: {detail} "
            "(parameters are fixed at build time; rebuild the index or "
            "match its recorded values)"
        )
    return meta


def prior_contract(spark: SparkSession, table: str, kind: str) -> dict | None:
    """The contract of the ``kind`` table a create path is about to
    replace, or None when ``table`` holds no readable ``kind`` contract
    (absent, another kind, another format): a build starts fresh over
    whatever was there."""
    if not spark.catalog.tableExists(table):
        return None
    try:
        return read_contract(spark, table, kind)
    except ValueError:
        return None


def index_table_health(
    spark: SparkSession, table: str, max_files_per_bucket: float = 8.0
) -> dict:
    """Small-file health for a bucketed or cell-partitioned standing
    index: every append adds one file per bucket (or touched cell
    directory), so a long append chain turns each into dozens of small
    files and probe-side scan cost creeps. Returns ``{n_files,
    n_buckets, files_per_bucket, compact_recommended}`` (for the IVF
    family ``n_buckets`` is cells × id buckets, the per-append file
    fanout). Constant-time metadata: a file listing, no data scan."""
    df = spark.table(table)
    n_files = len(df.inputFiles())
    meta = read_contract(spark, table)
    n_buckets = meta["n_buckets"]
    if meta["kind"] == "ivf":
        n_buckets *= meta["n_clusters"]
    ratio = n_files / n_buckets
    return {
        "n_files": n_files,
        "n_buckets": n_buckets,
        "files_per_bucket": round(ratio, 2),
        "compact_recommended": ratio > max_files_per_bucket,
    }


# the ceiling of a sized standing index's bucket count (the old fixed
# default): no build gets more buckets, or more files per append
INDEX_MAX_BUCKETS = 32


def _pin_rdd(rows: DataFrame):
    """The JVM RDD behind ``rows`` when ``rows`` is itself a
    materialized ``localCheckpoint`` (its optimized plan is one
    checkpointed ``LogicalRDD``), else None."""
    plan = rows._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() == "LogicalRDD" and plan.rdd().isCheckpointed():
        return plan.rdd()
    return None


def _pinned(rows: DataFrame) -> DataFrame:
    """``rows`` as a materialized local checkpoint: ``rows`` itself
    when a caller already pinned it, so no rows are pinned twice, else
    one eager ``localCheckpoint``. Either way the partitioning is the
    rows' own: a build from 9 input partitions still writes 9 files
    per bucket."""
    return rows if _pin_rdd(rows) is not None else rows.localCheckpoint()


def _sized_buckets(pin: DataFrame) -> int:
    """Bucket count for a standing index built from ``pin``
    (:func:`_pinned` rows): one bucket per core, more only when the
    pin's stored bytes need more than one
    ``spark.sql.files.maxPartitionBytes`` split per core, never more
    than :data:`INDEX_MAX_BUCKETS`. The bytes are the pin's memory and
    disk blocks in Spark's storage status, a measurement of the very
    rows the write reads, so a Python kernel, an RDD-backed frame or an
    ``explode`` is sized like a parquet scan; it is the rows' in-memory
    size, not their compressed size on disk. Every append writes up to
    one file per bucket and every probe opens every file, so a small
    index pays for each bucket it does not need on every micro-batch.
    A bucketed scan reads each bucket as one task and never splits it,
    so past one split per core the count keeps a bucket near one split.

    The count is sized once, at build: an index that grows by appends
    keeps it, and ``defaultParallelism`` counts only the executors
    registered at build time."""
    spark = pin.sparkSession
    rdd_id = _pin_rdd(pin).id()
    stored = sum(
        info.memSize() + info.diskSize()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if info.id() == rdd_id
    )
    split = int(str(spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()))
    wanted = max(spark.sparkContext.defaultParallelism, -(-stored // split))
    return min(INDEX_MAX_BUCKETS, wanted)


def _contract_layout(
    contract: dict, columns: list[str]
) -> tuple[list[str] | None, tuple[int, list[str]] | None]:
    """``(partition_by, bucket_by)`` fixed by a contract: the index
    kinds record ``n_buckets`` + ``bucket_cols`` (IVF also
    ``partition_cols``); distinct state records ``state_buckets`` and
    buckets on every column (the tuple IS the key; 0 = unbucketed)."""
    if contract["kind"] == "distinct_state":
        n = contract["state_buckets"]
        return None, ((n, list(columns)) if n else None)
    if "bucket_cols" not in TABLE_SPECS[contract["kind"]].keys:
        raise ValueError(f"a {contract['kind']} table records no layout")
    bucket_by = (contract["n_buckets"], contract["bucket_cols"].split(","))
    if contract["kind"] == "ivf":
        return contract["partition_cols"].split(","), bucket_by
    return None, bucket_by


def rewrite_layout(
    spark: SparkSession,
    table: str,
    rows: DataFrame,
    contract: dict,
    rotate_skew: bool = False,
) -> None:
    """The one layout rewrite every standing-index family runs (build,
    reband/reblock, compaction, the distinct-state rewrite, IVF's
    centroid-matrix rotations): write
    ``rows`` in the layout ``contract`` records (:func:`_contract_layout`)
    with ``contract`` as the new table's properties. Data and contract
    are one commit (:func:`write_table` creates the table, or the
    ``__stage`` it swaps in, with both), so a crash at any step leaves
    the old data under the old contract, or — once
    :func:`heal_interrupted_swap` completes a rename the crash cut
    off — the new data under the new contract. Probes never see one
    without the other.

    ``rotate_skew`` is for rewrites that re-derive bucket keys: the
    ``{table}_skew_log`` is dropped and ``skew_epoch`` advances past
    the table's current one, so a stream holding buffered reports from
    the retired keys drops them at flush. The log goes before the
    write: a failed rewrite loses only diagnostics, and never leaves
    reports about retired keys next to the new contract.

    A build passes ``n_buckets=None`` to have the count sized from
    ``rows``: they are pinned once (:func:`_pinned`; a caller's pin is
    reused), the count is sized from the pin's stored bytes
    (:func:`_sized_buckets`), and the write reads the pin, so every
    kernel behind ``rows`` still runs once. The sized count is what the
    contract records, so every later reband, compaction and append
    keeps it."""
    if "n_buckets" in contract and contract["n_buckets"] is None:
        rows = _pinned(rows)
        contract = {**contract, "n_buckets": _sized_buckets(rows)}
    if rotate_skew:
        prior = prior_contract(spark, table, contract["kind"])
        epoch = prior["skew_epoch"] + 1 if prior else 1
        contract = {**contract, "skew_epoch": epoch}
        spark.sql(f"DROP TABLE IF EXISTS {table}_skew_log")
    partition_by, bucket_by = _contract_layout(contract, rows.columns)
    write_table(
        rows, table, partition_by=partition_by, bucket_by=bucket_by,
        properties=contract,
    )


def append_layout(rows: DataFrame, table: str, contract: dict) -> None:
    """Append ``rows`` to a standing index in the layout its recorded
    ``contract`` fixes (:func:`_contract_layout`), so an append can
    never split the bucketing a build chose."""
    partition_by, bucket_by = _contract_layout(contract, rows.columns)
    write_table(
        rows, table, mode="append", partition_by=partition_by, bucket_by=bucket_by
    )


def compact_index_table(spark: SparkSession, table: str) -> None:
    """Rewrite a bucketed standing index as one file set: same layout
    (read from the recorded ``spark_graft.index.*`` contract), rows
    deduplicated (appends may have raced identical fingerprints),
    contract re-recorded unchanged through :func:`rewrite_layout`.
    Resets the small-file creep :func:`index_table_health` measures;
    semantics are unchanged — existence-set indexes (span, exact) and
    signature indexes (minhash) both tolerate row dedup by
    construction."""
    meta = read_contract(spark, table)
    rewrite_layout(spark, table, spark.table(table).distinct(), meta)


def connection_config(prefix: str, keys: tuple[str, ...]) -> dict[str, str]:
    """S8: env-backed connection config (offline stand-in for the
    reference's Secrets Manager fetch, utils.py:5-16). Reads
    ``{PREFIX}_{KEY}`` env vars; missing keys are omitted.
    """
    out = {}
    for k in keys:
        v = os.environ.get(f"{prefix}_{k}".upper())
        if v is not None:
            out[k.lower()] = v
    return out


def snowflake_options(prefix: str = "snowflake") -> dict[str, str]:
    """The Snowflake connector option dict the reference builds by hand
    (dim_customers_gold.py:72-78 / fact_sales_gold.py:78-84):
    ``{PREFIX}_URL/USER/PASSWORD/DATABASE/WAREHOUSE`` env vars mapped to
    the connector's ``sfURL/sfUser/sfPassword/sfDatabase/sfWarehouse``
    keys. The env fetch of user+password stands in for the reference's
    Secrets Manager call (utils.py:5-16) — same sourcing contract,
    offline-testable. Missing vars are omitted so the connector's own
    validation names what's absent."""
    key_map = {
        "url": "sfURL",
        "user": "sfUser",
        "password": "sfPassword",
        "database": "sfDatabase",
        "warehouse": "sfWarehouse",
    }
    cfg = connection_config(prefix, tuple(key_map))
    return {key_map[k]: v for k, v in cfg.items()}


@dataclass
class WarehouseSink:
    """S7: warehouse sink abstraction (the reference's Snowflake writer,
    dim_customers_gold.py:72-81, with the intended ``.option("dbtable",…)``
    semantics — the original chained ``.options(...)`` positionally, which
    is invalid PySpark).

    backend="catalog" (default) writes to the session catalog via
    :func:`write_table` — the locally-testable stand-in. backend="jdbc" is
    tested against embedded Derby
    (``tests/test_io.py::test_jdbc_roundtrip_embedded_derby``);
    backend="snowflake" builds the real connector write. The live
    Snowflake write needs the connector jar + network, but its EXACT
    contract — format, ``dbtable``, mode, secret-sourced credential
    options — is pinned offline by :meth:`plan` plus
    ``tests/test_io.py::test_warehouse_sink_snowflake_contract``
    (a recording fake drives :meth:`write` end to end).
    """

    backend: str = "catalog"
    options: dict[str, str] = field(default_factory=dict)

    def plan(self, table: str, mode: str = "overwrite") -> dict:
        """The exact write the backend will issue, as data:
        ``{"format", "mode", "options"}`` with ``dbtable`` folded into
        options for connector backends. This IS the contract the live
        write executes (``write`` consumes it verbatim), so tests pin
        connector semantics without a jar or network."""
        if self.backend == "catalog":
            return {"format": "catalog", "mode": mode, "options": {"table": table}}
        if self.backend not in ("jdbc", "snowflake"):
            raise ValueError(f"unknown warehouse backend: {self.backend}")
        return {
            "format": self.backend,
            "mode": mode,
            "options": {**self.options, "dbtable": table},
        }

    def write(self, df: DataFrame, table: str, mode: str = "overwrite") -> None:
        p = self.plan(table, mode)
        if p["format"] == "catalog":
            write_table(df, table, mode=mode)
            return
        writer = df.write.format(p["format"]).mode(p["mode"])
        for k, v in p["options"].items():
            writer = writer.option(k, v)
        writer.save()
