"""Warehouse layout + lifecycle: bronze → silver → gold over parquet.

Physical design for the 93M-variant / 100 TB case (SURVEY.md §4):

- silver tables `b37` and `gwas` are written partitioned by `chr` and
  sorted by `pos` within files: region queries (the app's whole read
  surface, gwasDB/app.R:82-87,149-154) bind chr + a pos range, so partition
  pruning eliminates 24/25ths of the data and parquet min/max row-group
  stats on sorted `pos` skip the rest. This replaces the reference's PK
  b-tree (R/gwas_ddl.sql:5,61).
- `study` is tiny → single file, always broadcast.
- gold `combined` is the persisted denormalized view (the reference's
  `combined` table / export view, R/postgres_process.Rmd:137) — persisted
  because Spark views re-execute while the app re-queries interactively.

Every table written through `Warehouse.write` carries `_schema.json`: the
schema Spark reads the table back with (the data columns in write order,
then the `chr` partition column, all nullable), written after the parquet
commit. `read` hands it to `spark.read.schema(...)`, which skips the
footer-sampling job a bare `spark.read.parquet` runs to infer the schema
on every read. Spark's file listing ignores `_`-prefixed names, so the
sidecar is never read as data. A table without one (written before
sidecars existed, or by plain `df.write`) is read by inference.

`combined` is rebuilt into `combined_tmp_`, then swapped in by renaming
the live table aside to `combined.old`; `Warehouse(...)` repairs whatever
a crash between those renames left behind.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SILVER_TABLES = ("b37", "marker", "study", "gwas", "no_gwas_result")
CHR_PARTITIONED = {"b37", "gwas", "combined", "combined_tmp_"}
SCHEMA_FILE = "_schema.json"
_INT = re.compile(r"[+-]?\d+")


def _nullable(t: T.DataType) -> T.DataType:
    """`t` with every field, element and value nullable: the schema
    Spark's parquet reader hands back for data it wrote as `t`."""
    if isinstance(t, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _chr_type(table_dir: str) -> T.DataType | None:
    """The type Spark's partition discovery infers from the `chr=`
    directory names when it is int (every value a 32-bit integer); None
    for any other values, or none, which are left to inference."""
    vals = [e[len("chr="):] for e in os.listdir(table_dir) if e.startswith("chr=")]
    if vals and all(_INT.fullmatch(v) and -(1 << 31) <= int(v) < (1 << 31) for v in vals):
        return T.IntegerType()
    return None


class Warehouse:
    """A rooted parquet warehouse with the reference's five base tables and
    the gold `combined` table."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._recover_combined()

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write(self, name: str, df: DataFrame, mode: str = "overwrite") -> None:
        """Write a silver table with its scale layout (chr-partitioned +
        pos-sorted for variant-grain tables).

        `gwas` carries no chr column in the reference DDL (chr lives in b37,
        R/gwas_ddl.sql:42-64); we derive a chr partition column from the
        kgp_id prefix (`{chr}:{pos}_{ref}_{alt}`) so the fact table prunes
        on region queries and co-partitions with b37 for the gold build."""
        if name in CHR_PARTITIONED and "chr" not in df.columns and "kgp_id" in df.columns:
            df = df.withColumn(
                "chr", F.split(F.col("kgp_id"), ":").getItem(0).cast("int")
            )
        partitioned = name in CHR_PARTITIONED and "chr" in df.columns
        writer = df.write.mode(mode)
        if partitioned:
            df = df.sortWithinPartitions("chr", "pos") if "pos" in df.columns else df
            writer = df.write.mode(mode).partitionBy("chr")
        data = _nullable(df.drop("chr").schema if partitioned else df.schema)
        # Pin the schema again only if every file in the table will match
        # it; otherwise drop the pin before writing, so a crash mid-write
        # never leaves a stale one.
        pinned = self.schema(name)
        if pinned is not None and partitioned:
            pinned = T.StructType([f for f in pinned.fields if f.name != "chr"])
        pin = mode == "overwrite" or not self.has_table(name) or pinned == data
        if not pin:
            self._unpin(name)
        writer.parquet(self.path(name))
        if pin:
            self._pin(name, data, partitioned)

    def append(self, name: str, df: DataFrame) -> None:
        """INSERT INTO ... SELECT (SURVEY.md U2) as a partitioned append."""
        self.write(name, df, mode="append")

    def read(self, name: str) -> DataFrame:
        """The table under its pinned schema (no Spark job), or by
        parquet schema inference when it has none."""
        schema = self.schema(name)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self.path(name))

    def schema(self, name: str) -> T.StructType | None:
        """The table's pinned `_schema.json`, or None."""
        try:
            with open(os.path.join(self.path(name), SCHEMA_FILE)) as f:
                return T.StructType.fromJson(json.load(f))
        except FileNotFoundError:
            return None

    def _pin(self, name: str, data: T.StructType, partitioned: bool) -> None:
        fields = list(data.fields)
        if partitioned:
            chr_type = _chr_type(self.path(name))
            if chr_type is None:
                self._unpin(name)
                return
            fields.append(T.StructField("chr", chr_type, True))
        dst = os.path.join(self.path(name), SCHEMA_FILE)
        with open(dst + ".tmp", "w") as f:
            f.write(T.StructType(fields).json())
        os.replace(dst + ".tmp", dst)

    def _unpin(self, name: str) -> None:
        try:
            os.remove(os.path.join(self.path(name), SCHEMA_FILE))
        except FileNotFoundError:
            pass

    def register_views(self) -> None:
        """Expose every table to SQL-text queries (entry-point 3)."""
        for name in SILVER_TABLES + ("combined",):
            p = self.path(name)
            if os.path.exists(p):
                self.read(name).createOrReplaceTempView(name)

    def has_table(self, name: str) -> bool:
        return os.path.exists(self.path(name))

    # -- marker name index ------------------------------------------------

    def build_marker_index(self, n_files: int = 64) -> DataFrame:
        """Skinny (kgp_id, chr, pos) lookup index, range-partitioned and
        sorted BY NAME — the engine's stand-in for the reference's
        `kgp_id` PK b-tree (R/gwas_ddl.sql:5) on the interactive probe
        path (gwasDB/app.R:97-101).

        b37's chr/pos layout serves region queries but a name probe scans
        everything. Here `repartitionByRange(kgp_id)` gives each file a
        disjoint name range and the in-file sort tightens parquet
        row-group min/max stats, so an equality or prefix probe pushed to
        the scan skips every non-overlapping row group: at 93M rows a
        lookup touches ~one file's worth of footer reads plus one row
        group. Delta/Iceberg z-order+bloom is the transactional upgrade;
        no Delta jar ships in this container (documented ROADMAP.md)."""
        idx = self.read("b37").select("kgp_id", "chr", "pos")
        self.write(
            "marker_index",
            idx.repartitionByRange(n_files, "kgp_id").sortWithinPartitions("kgp_id"),
        )
        return self.read("marker_index")

    # -- gold -------------------------------------------------------------

    def build_combined(self) -> DataFrame:
        """The denormalized export view (R/postgres_process.Rmd:137):

        gwas LEFT JOIN b37 USING (kgp_id)
             LEFT JOIN (SELECT id AS study_id, name, n, n_case, n_control
                        FROM study) USING (study_id)
        WHERE impute_score >= 0.3, with `stat` aliased `or`.

        The study side broadcasts; the gwas⋈b37 join co-partitions on chr
        when both sides carry it. Persisted chr-partitioned/pos-sorted so
        the app's locus windows stay pruned."""
        # drop gwas's derived chr partition column — b37 is authoritative
        # for coordinates in the view definition
        gwas = self.read("gwas").drop("chr")
        b37 = self.read("b37")
        study = self.read("study").select(
            F.col("id").alias("study_id"),
            "name",
            "n",
            "n_case",
            "n_control",
        )
        combined = (
            gwas.filter(F.col("impute_score") >= 0.3)
            .join(b37, "kgp_id", "left")
            .join(F.broadcast(study), "study_id", "left")
            .select(
                "kgp_id",
                "study_id",
                F.col("stat").alias("or"),
                "se",
                "neg_log10_p",
                "impute_score",
                "maf_all",
                "chr",
                "pos",
                "ref",
                "alt",
                "name",
                "n",
                "n_case",
                "n_control",
            )
        )
        self._recover_combined()
        self.write("combined_tmp_", combined)
        # rename-aside swap: at every step either `combined` or
        # `combined.old` holds a whole table (Delta would give true ACID;
        # plain parquet keeps the dependency surface minimal here)
        live, old = self.path("combined"), self.path("combined.old")
        if os.path.exists(live):
            os.rename(live, old)
        os.rename(self.path("combined_tmp_"), live)
        shutil.rmtree(old, ignore_errors=True)
        return self.read("combined")

    def _recover_combined(self) -> None:
        """Finish or roll back a `build_combined` swap a crash cut short:
        restore `combined` from `combined.old` if the live table is
        missing, then delete any `combined.old` / `combined_tmp_` beside
        the live table. Assumes no other writer is mid-build."""
        live, old = self.path("combined"), self.path("combined.old")
        if not os.path.exists(live) and os.path.exists(old):
            os.rename(old, live)
        if os.path.exists(live):
            for stale in (old, self.path("combined_tmp_")):
                shutil.rmtree(stale, ignore_errors=True)
