"""Source resolver: path/URL/table → DataFrame.

The reference gets files-as-tables for free from DuckDB replacement scans —
a quoted CSV path (or ``https://`` URL via the httpfs extension) is usable
directly in ``from``/``join`` position (``/root/reference/README.md:8``,
``/root/reference/test/sql/psql.test:48-55``). Spark has no replacement
scan, so this resolver is the explicit analogue (SURVEY.md §2.C "Scans"):

* extension dispatch → ``spark.read.csv/parquet/json`` (csv with
  ``header=True, inferSchema=True`` to mirror DuckDB's sniffer),
* ``http(s)://`` → download once to a local spool directory, then read
  (Spark cannot stream https CSVs; on a real cluster the spool directory
  must be cluster-visible — e.g. a mounted FS or ``SparkFiles``; for a
  100 TB deployment data should live on a distributed store and this shim
  exists only for small reference files, SURVEY.md §7.3.5),
* bare names → ``spark.table`` (catalog/temp views).

Resolved path DataFrames are memoized per resolver so repeated mentions of
the same file (README query mentions each CSV once per stage) don't re-run
schema inference.
"""

from __future__ import annotations

import os
import re
import tempfile
import urllib.parse
import urllib.request

from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import DataFrame, SparkSession


class SourceResolver:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._cache: dict[str, DataFrame] = {}
        self._spool_dir: str | None = None
        # statement-scoped substitutions installed by the compiler's
        # scan-reuse pass: path → persisted (possibly column-pruned) base.
        # Checked before the memo cache; only option-free resolves hit it
        # (an options variant may need columns the pruned base dropped).
        self.overrides: dict[str, DataFrame] = {}
        # ATTACH'd directories: alias → dir whose data files resolve as
        # <alias>.<stem>; USE sets default_attachment for bare names
        self.attachments: dict[str, str] = {}
        self.default_attachment: str | None = None
        # bucketed twins registered by the `cluster by` verb:
        # path → (catalog table, bucket keys, (bytes, mtime) fingerprint).
        # The compiler's bucketed-twin pass substitutes the table for the
        # raw path when a statement's plan shuffles that scan on a bucket
        # key, which lets the bucketed read elide the exchange entirely.
        self.bucketed_twins: dict[str, tuple[str, tuple[str, ...], tuple[int, float]]] = {}
        # bucketed twins of CATALOG endpoints (tables/views) — round 13:
        # lower-cased name → [(twin table, keys, fingerprint)], where the
        # fingerprint is (input-files (bytes, mtime, count), catalog
        # epoch at registration). Input files catch out-of-band data
        # rewrites (INSERT into a managed table, an overwritten parquet
        # under a view); the epoch folds in engine-side DDL/DML (a view
        # REDEFINED over the same files has the same input fingerprint
        # but must still invalidate).
        self.table_twins: dict[
            str, list[tuple[str, tuple[str, ...], tuple]]
        ] = {}
        # statement-scoped table-name substitutions installed by the
        # bucketed-twin pass (the catalog analogue of ``overrides``)
        self.table_overrides: dict[str, DataFrame] = {}

    def path_fingerprint(self, path: str) -> tuple[int, float]:
        """(total bytes, latest mtime) — cheap staleness probe for twins.

        Glob patterns expand first: ``dir/*.parquet`` gains/loses
        MATCHES without the literal's own stat ever changing, so the
        fingerprint must walk the expansion (the match count folds in
        too, so an added zero-byte file still invalidates)."""
        try:
            if any(c in path for c in "*?["):
                import glob as _glob

                matches = _glob.glob(path)
                total, newest = len(matches), 0.0
                for m in matches:
                    # stat each match directly: recursing through the
                    # pattern-sensitive entry point would re-glob a match
                    # whose literal name contains metacharacters (e.g.
                    # 'part[1].parquet'), fingerprinting the wrong file
                    # or dropping it from the staleness probe
                    if os.path.isfile(m):
                        st = os.stat(m)
                        total += st.st_size
                        newest = max(newest, st.st_mtime)
                    elif os.path.isdir(m):
                        for root, _dirs, files in os.walk(m):
                            for f in files:
                                st = os.stat(os.path.join(root, f))
                                total += st.st_size
                                newest = max(newest, st.st_mtime)
                return (total, newest)
            if os.path.isfile(path):
                st = os.stat(path)
                return (st.st_size, st.st_mtime)
            total, newest = 0, 0.0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    st = os.stat(os.path.join(root, f))
                    total += st.st_size
                    newest = max(newest, st.st_mtime)
            return (total, newest)
        except OSError:
            return (0, 0.0)

    def register_bucketed_twin(
        self, path: str, table: str, keys: tuple[str, ...]
    ) -> None:
        """Register a bucketed layout for ``path``. A path can carry
        SEVERAL layouts on different key tuples (round 12 — warehouse
        "projections": orders bucketed by o_orderkey for the lineitem
        join AND by o_custkey for the customer join / per-customer
        aggregations); registration order is priority order (biggest
        edge first), and re-registering the same key tuple replaces its
        entry.

        The registry key is abspath-normalized (round 14, ADVICE r13):
        the declared-keys flow canonicalizes endpoints but the `cluster
        by` verb registered under the literal statement ref, so a
        relative-path ``cluster by`` followed by an absolute-path query
        over the same files silently missed the twin — the mirror of the
        relative-path lookup miss e699d6c fixed. Both registration flows
        and both statement spellings now converge on one key;
        ``resolver.overrides`` stays keyed by literal statement text."""
        path = self._twin_key(path)
        fp = self.path_fingerprint(path)
        layouts = self.bucketed_twins.setdefault(path, [])
        layouts[:] = [ent for ent in layouts if ent[1] != keys]
        layouts.append((table, keys, fp))

    @staticmethod
    def _twin_key(path: str) -> str:
        """Canonical registry key for a path twin: absolute for local
        paths, untouched for URIs (abspath would mangle a scheme)."""
        return path if "://" in path else os.path.abspath(path)

    def bucketed_twin_layouts(
        self, path: str
    ) -> list[tuple[str, tuple[str, ...]]]:
        """Valid (table, keys) layouts for ``path`` in priority order,
        dropping stale entries (source rewritten since materialization,
        or table gone)."""
        path = self._twin_key(path)
        layouts = self.bucketed_twins.get(path)
        if not layouts:
            return []
        fresh: list = []
        out: list[tuple[str, tuple[str, ...]]] = []
        fp_now = self.path_fingerprint(path)
        for table, keys, fp in layouts:
            if fp_now != fp or not self.spark.catalog.tableExists(table):
                continue
            fresh.append((table, keys, fp))
            out.append((table, keys))
        if fresh:
            self.bucketed_twins[path] = fresh
        else:
            del self.bucketed_twins[path]
        return out

    def bucketed_twin(self, path: str) -> tuple[str, tuple[str, ...]] | None:
        """Highest-priority valid layout for ``path`` (legacy single-twin
        view of bucketed_twin_layouts)."""
        layouts = self.bucketed_twin_layouts(path)
        return layouts[0] if layouts else None

    def table_fingerprint(self, name: str) -> tuple:
        """Staleness probe for a catalog endpoint (table or view):
        ((bytes, mtime, count) over its INPUT FILES, plan signature).

        ``inputFiles()`` walks the analyzed plan to its scans, so it
        sees through views to the files that actually feed them — an
        INSERT into a managed table or an out-of-band parquet overwrite
        under a view both change it. The plan signature (analyzed plan
        text with per-analysis expression ids stripped) catches the case
        the files can't: the view REDEFINED over the same inputs (a
        different filter reads the same files). A missing/unanalyzable
        endpoint fingerprints as ("missing",), never equal to a live
        fingerprint."""
        try:
            df = self.spark.table(name)
            files = df.inputFiles()
            plan = df._jdf.queryExecution().analyzed().toString()
        except Exception:  # noqa: BLE001 — dropped table, broken view
            return ("missing",)
        total, newest = 0, 0.0
        for uri in files:
            p = urllib.parse.unquote(urllib.parse.urlparse(uri).path) or uri
            try:
                st = os.stat(p)
            except OSError:
                continue
            total += st.st_size
            newest = max(newest, st.st_mtime)
        import hashlib as _hashlib

        sig = _hashlib.sha1(
            re.sub(r"#\d+", "", plan).encode()
        ).hexdigest()
        return ((total, newest, len(files)), sig)

    def register_table_twin(
        self, name: str, table: str, keys: tuple[str, ...]
    ) -> None:
        """Register a bucketed layout for catalog endpoint ``name``
        (table or view). Same multi-layout semantics as path twins."""
        low = name.strip().strip('"`').lower()
        fp = self.table_fingerprint(low)
        layouts = self.table_twins.setdefault(low, [])
        layouts[:] = [ent for ent in layouts if ent[1] != keys]
        layouts.append((table, keys, fp))

    def table_twin_layouts(self, name: str) -> list[tuple[str, tuple[str, ...]]]:
        """Valid (twin, keys) layouts for catalog endpoint ``name``,
        dropping stale entries (input files changed, definition changed,
        or twin table gone)."""
        low = name.strip().strip('"`').lower()
        layouts = self.table_twins.get(low)
        if not layouts:
            return []
        fp_now = self.table_fingerprint(low)
        fresh: list = []
        out: list[tuple[str, tuple[str, ...]]] = []
        for table, keys, fp in layouts:
            if fp_now != fp or not self.spark.catalog.tableExists(table):
                continue
            fresh.append((table, keys, fp))
            out.append((table, keys))
        if fresh:
            self.table_twins[low] = fresh
        else:
            del self.table_twins[low]
        return out

    def twin_status(self) -> list[tuple[str, str, str, str]]:
        """Non-destructive staleness report over EVERY registered twin:
        (source, twin, keys, 'fresh'|'stale') rows, stale entries kept
        in the registry so the report can show them (VERDICT r12 #3 —
        silent fallback to the raw path is a silent 2x regression at
        100 TB; this is the visible signal, surfaced as
        ``SHOW CLUSTER LAYOUTS``)."""
        rows: list[tuple[str, str, str, str]] = []
        for path, layouts in self.bucketed_twins.items():
            fp_now = self.path_fingerprint(path)
            for table, keys, fp in layouts:
                ok = fp_now == fp and self.spark.catalog.tableExists(table)
                rows.append(
                    (path, table, ",".join(keys), "fresh" if ok else "stale")
                )
        for low, layouts in self.table_twins.items():
            fp_now = self.table_fingerprint(low)
            for table, keys, fp in layouts:
                ok = fp_now == fp and self.spark.catalog.tableExists(table)
                rows.append(
                    (low, table, ",".join(keys), "fresh" if ok else "stale")
                )
        return rows

    def path_of(self, df: DataFrame) -> str | None:
        """Reverse-lookup: the plain (option-free, single-file) path whose
        cached resolve IS this DataFrame object, if any. Used by the
        `cluster by` verb to auto-register a bucketed twin when the
        clustered pipeline is exactly a scan of one source."""
        for key, cached in self._cache.items():
            # plain single-path resolves key as (ref, fingerprint);
            # option/multi-file forms stay flat strings
            ref = key[0] if isinstance(key, tuple) else key
            if cached is df and "|" not in ref and "\n" not in ref:
                return ref
        return None

    # DuckDB read_csv/read_json argument → Spark reader option.
    _OPT_MAP = {
        "header": "header",
        "delim": "sep",
        "sep": "sep",
        "delimiter": "sep",
        "quote": "quote",
        "escape": "escape",
        "nullstr": "nullValue",
        "null_padding": None,
        "sample_size": None,
        "ignore_errors": "mode",  # true → PERMISSIVE (spark default), handled below
        "dateformat": "dateFormat",
        "timestampformat": "timestampFormat",
        "all_varchar": None,  # handled: disables inferSchema
        "compression": "compression",
    }

    def resolve(self, ref: str, options: dict[str, str] | None = None) -> DataFrame:
        """Resolve a path-like source reference to a DataFrame.

        ``options`` carries DuckDB-style ``read_csv(path, k=v, …)``
        arguments, mapped onto the Spark reader.
        """
        if not options and ref in self.overrides:
            return self.overrides[ref]
        key = ref if not options else ref + "|" + repr(sorted(options.items()))
        # fold the on-disk fingerprint in: an overwrite-in-place (same
        # path, new files) must not serve the old snapshot's file index
        # (Spark fails the read with FILE_NOT_EXIST, or silently returns
        # stale rows if the old part files still exist)
        if "\n" not in ref and not ref.startswith(("http://", "https://")):
            key = (key, self.path_fingerprint(ref))
        if key in self._cache:
            return self._cache[key]
        if "\n" in ref:
            # multi-file form (from ['a','b'] / read_parquet([...])): the
            # stage parser joins the list with newlines (illegal in paths)
            paths = [p for p in ref.split("\n") if p]
            dfs = [self._read_path(p, options) for p in paths]
            df = dfs[0]
            for other in dfs[1:]:
                df = df.unionByName(other, allowMissingColumns=True)
        else:
            path = ref
            if path.startswith(("http://", "https://")):
                path = self._fetch_url(path)
            df = self._read_path(path, options)
        self._cache[key] = df
        return df

    def table(self, name: str) -> DataFrame:
        low = name.strip().strip('"`').lower()
        # bucketed-twin substitution for catalog endpoints: installed
        # statement-scoped by the compiler's twin pass, checked before
        # anything else (same contract as ``overrides`` for paths)
        if low in self.table_overrides:
            return self.table_overrides[low]
        if low in ("information_schema.tables", "information_schema.columns"):
            return self._information_schema(low.split(".", 1)[1])
        if "." in low:
            db, tbl = low.split(".", 1)
            if db in self.attachments:
                return self._attached_table(db, tbl)
        elif self.default_attachment and not self.spark.catalog.tableExists(low):
            # only "no such file in the attached dir" (KeyError) or an
            # unresolvable relation falls through to the catalog; a real
            # read error on an existing attached file (corrupt parquet,
            # permissions) must propagate, not resurface as a misleading
            # "table not found" (ADVICE r5)
            try:
                return self._attached_table(self.default_attachment, low)
            except (KeyError, AnalysisException):
                pass
        return self.spark.table(name)

    _ATTACH_EXTS = (".parquet", ".csv", ".tsv", ".json", ".jsonl", ".ndjson")

    def _attached_table(self, db: str, tbl: str) -> DataFrame:
        """``<attached>.<table>`` → the data file named ``<table>.*`` in
        the attached directory (ATTACH's files-as-tables analogue)."""
        root = self.attachments[db]
        for ext in self._ATTACH_EXTS:
            p = os.path.join(root, tbl + ext)
            if os.path.exists(p):
                return self.resolve(p)
        raise KeyError(
            f"table {tbl!r} not found in attached database {db!r} ({root})"
        )

    def _information_schema(self, which: str) -> DataFrame:
        """DuckDB-parity catalog introspection views.

        ``information_schema.tables`` / ``.columns`` over the session
        catalog (temp views + current-database tables), with DuckDB's
        column names and value conventions (catalog ``memory``, schema
        ``main`` for unqualified/temp relations) so differential checks
        can compare rows against an embedded DuckDB with the same
        relations registered. Catalog listings are driver-side by nature
        (O(#tables), not data-sized).
        """
        from pyspark.sql import types as T

        tables = self.spark.catalog.listTables()
        if which == "tables":
            rows = [
                ("memory", "main", t.name,
                 "VIEW" if t.tableType in ("TEMPORARY", "VIEW") else "BASE TABLE")
                for t in tables
            ]
            schema = T.StructType([
                T.StructField("table_catalog", T.StringType()),
                T.StructField("table_schema", T.StringType()),
                T.StructField("table_name", T.StringType()),
                T.StructField("table_type", T.StringType()),
            ])
            return self.spark.createDataFrame(rows, schema)
        rows = []
        for t in tables:
            try:
                cols = self.spark.catalog.listColumns(t.name)
            except Exception:  # noqa: BLE001 — dropped concurrently
                continue
            for i, c in enumerate(cols, start=1):
                rows.append(
                    ("memory", "main", t.name, c.name, i,
                     _duckdb_type_name(c.dataType), "YES" if c.nullable else "NO")
                )
        schema = T.StructType([
            T.StructField("table_catalog", T.StringType()),
            T.StructField("table_schema", T.StringType()),
            T.StructField("table_name", T.StringType()),
            T.StructField("column_name", T.StringType()),
            T.StructField("ordinal_position", T.IntegerType()),
            T.StructField("data_type", T.StringType()),
            T.StructField("is_nullable", T.StringType()),
        ])
        return self.spark.createDataFrame(rows, schema)

    def resolve_stream(self, ref: str) -> DataFrame:
        """``stream('path')`` → Structured Streaming source (readStream).

        Schema comes from a batch footer/sample read (file streams require
        an explicit schema). Nanosecond-timestamp parquet reads the ns
        column as long and converts to µs post-read, same as the batch
        path. The caller owns the writeStream/trigger lifecycle.
        """
        from pyspark.sql import functions as F

        path = ref
        lower = path.lower()

        def _dir_and_reader(reader):
            # File-stream sources require a DIRECTORY; a single-file path
            # streams its parent dir filtered to that one file.
            if os.path.isfile(path):
                return reader.option("pathGlobFilter", os.path.basename(path)), (
                    os.path.dirname(path) or "."
                )
            return reader, path

        if lower.endswith((".csv", ".tsv")):
            schema = self._read_path(path).schema
            reader = self.spark.readStream.schema(schema).option("header", True)
            if lower.endswith(".tsv"):
                reader = reader.option("sep", "\t")
            reader, src = _dir_and_reader(reader)
            return reader.csv(src)
        if lower.endswith((".json", ".jsonl", ".ndjson")):
            reader = self.spark.readStream.schema(self._read_path(path).schema)
            reader, src = _dir_and_reader(reader)
            return reader.json(src)
        ns_cols = self._nanos_columns(path)
        if ns_cols:
            self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = self.spark.read.parquet(path).schema
        reader, src = _dir_and_reader(self.spark.readStream.schema(schema))
        df = reader.parquet(src)
        for c in ns_cols:
            df = df.withColumn(
                c,
                # integer div: double division loses 1-us precision at
                # 1e18-ns magnitudes (2^53 mantissa)
                F.timestamp_micros(F.expr(f"`{c}` div 1000")),
            )
        return df

    # -- internals ---------------------------------------------------------

    def _read_path(self, path: str, options: dict[str, str] | None = None) -> DataFrame:
        lower = path.lower()
        # cross-format reader flags (DuckDB read_* args):
        #   filename=true        → provenance column with the source path
        #   hive_partitioning    → partition columns from key=value dirs
        #   union_by_name        → schema-merge across files
        options = dict(options or {})

        def _flag(name: str) -> bool:
            return str(options.pop(name, "")).lower() in ("true", "1")

        fmt_override = options.pop("__fmt", None)
        if fmt_override in ("text", "blob"):
            # read_text / read_blob: whole-file rows (filename, content,
            # size, last_modified — DuckDB's column shape). Spark's
            # binaryFile source is the distributed whole-file reader;
            # content decodes to STRING for text.
            df = (
                self.spark.read.format("binaryFile")
                .load(path)
                .select(
                    F.expr(
                        "regexp_replace(path, '^file:/*', '/')"
                    ).alias("filename"),
                    (
                        F.col("content").cast("string")
                        if fmt_override == "text"
                        else F.col("content")
                    ).alias("content"),
                    F.col("length").alias("size"),
                    F.col("modificationTime").alias("last_modified"),
                )
            )
            return df
        want_filename = _flag("filename")
        hive = _flag("hive_partitioning")
        merge_schema = _flag("union_by_name")
        base_path = None
        if hive and re.search(r"[*?\[]", path):
            # Spark infers key=value partition dirs automatically when
            # given a directory root; for a GLOB it needs basePath (the
            # prefix before the first wildcard) to anchor the inference
            prefix = re.split(r"[*?\[]", path, 1)[0]
            base_path = os.path.dirname(prefix)
        df = self._read_path_fmt(path, lower, options, merge_schema, base_path)
        if want_filename:
            # DuckDB emits the plain filesystem path; Spark's
            # input_file_name() returns a file: URI
            df = df.withColumn(
                "filename",
                F.expr("regexp_replace(input_file_name(), '^file:/*', '/')"),
            )
        return df

    def _read_path_fmt(
        self,
        path: str,
        lower: str,
        options: dict[str, str],
        merge_schema: bool,
        base_path: str | None,
    ) -> DataFrame:
        fmt = None
        for ext, f in (
            (".parquet", "parquet"), (".pq", "parquet"),
            (".csv", "csv"), (".csv.gz", "csv"), (".tsv", "csv"),
            (".json", "json"), (".jsonl", "json"), (".ndjson", "json"),
        ):
            if lower.endswith(ext):
                fmt = f
                break
        if fmt is None:
            # directory of parquet files (the common large-scale layout)
            fmt = "parquet"
        if fmt == "csv":
            infer = True
            reader = self.spark.read.option("header", True)
            if base_path is not None:
                reader = reader.option("basePath", base_path)
            if lower.endswith(".tsv"):
                reader = reader.option("sep", "\t")
            for k, v in (options or {}).items():
                k = k.lower()
                if k == "all_varchar" and str(v).lower() in ("true", "1"):
                    infer = False
                    continue
                spark_key = self._OPT_MAP.get(k, k)
                if spark_key == "mode":
                    reader = reader.option("mode", "PERMISSIVE")
                elif spark_key is not None:
                    reader = reader.option(spark_key, v)
            return reader.option("inferSchema", infer).csv(path)
        if fmt == "json":
            reader = self.spark.read.options(**(options or {}))
            if base_path is not None:
                reader = reader.option("basePath", base_path)
            return reader.json(path)
        return self._read_parquet(
            path, merge_schema=merge_schema, base_path=base_path
        )

    def _read_parquet(
        self,
        path: str,
        merge_schema: bool = False,
        base_path: str | None = None,
    ) -> DataFrame:
        """Parquet read with nanosecond-timestamp compatibility.

        Spark rejects parquet TIMESTAMP(NANOS) columns outright
        ([PARQUET_TYPE_ILLEGAL]); DuckDB reads them (truncating to µs).
        For parity we detect ns columns from the footer, read them as
        int64 (``spark.sql.legacy.parquet.nanosAsLong``) and convert
        ns→µs JVM-side — distributed, no driver materialization, same
        truncation DuckDB applies.
        """
        reader = self.spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        if base_path is not None:
            reader = reader.option("basePath", base_path)
        ns_cols = self._nanos_columns(path)
        if not ns_cols:
            return reader.parquet(path)
        # left set for the session: executors re-derive schemas from this
        # conf at scan time, so restoring it would break lazy execution.
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = reader.parquet(path)
        for c in ns_cols:
            df = df.withColumn(
                c,
                # integer div: double division loses 1-us precision at
                # 1e18-ns magnitudes (2^53 mantissa)
                F.timestamp_micros(F.expr(f"`{c}` div 1000")),
            )
        return df

    @staticmethod
    def _nanos_columns(path: str) -> list[str]:
        try:
            import pyarrow.dataset as pads
            import pyarrow.types as pat

            # INT96 (Spark's default timestamp encoding) would otherwise
            # surface as ns, yet Spark reads it natively as a timestamp
            fmt = pads.ParquetFileFormat(
                read_options=pads.ParquetReadOptions(
                    coerce_int96_timestamp_unit="us"
                )
            )
            schema = pads.dataset(path, format=fmt).schema
            return [
                f.name
                for f in schema
                if pat.is_timestamp(f.type) and f.type.unit == "ns"
            ]
        except Exception:
            return []

    def _fetch_url(self, url: str) -> str:
        if self._spool_dir is None:
            self._spool_dir = tempfile.mkdtemp(prefix="psql_spark_httpfs_")
        name = os.path.basename(urllib.parse.urlparse(url).path) or "download"
        local = os.path.join(self._spool_dir, name)
        if not os.path.exists(local):
            urllib.request.urlretrieve(url, local)  # noqa: S310 — explicit httpfs shim
        return local


def _duckdb_type_name(spark_type: str) -> str:
    """Spark simple-type string → DuckDB type name (information_schema
    reports the reference's dialect names: STRING→VARCHAR, INT→INTEGER,
    ARRAY<T>→T[], BINARY→BLOB, TIMESTAMP_NTZ→TIMESTAMP)."""
    s = spark_type.strip().lower()
    if s.startswith("array<") and s.endswith(">"):
        return _duckdb_type_name(s[6:-1]) + "[]"
    if s.startswith("decimal"):
        return "DECIMAL" + s[len("decimal"):].upper()
    return {
        "string": "VARCHAR", "int": "INTEGER", "integer": "INTEGER",
        "bigint": "BIGINT", "smallint": "SMALLINT", "tinyint": "TINYINT",
        "double": "DOUBLE", "float": "FLOAT", "boolean": "BOOLEAN",
        "binary": "BLOB", "date": "DATE",
        "timestamp": "TIMESTAMP WITH TIME ZONE", "timestamp_ntz": "TIMESTAMP",
    }.get(s, s.upper())
