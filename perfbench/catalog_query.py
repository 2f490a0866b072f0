"""``catalog_query``: interactive reads over a seeded ~200k-entry catalog.

One op is one STAC page, keyset page, numberMatched count, ``ddb search``
glob or ``ddb list`` folder listing over ``DatasetCatalog.entries()``, with
its (small) result collected.  A seeded quarter of the ops keep their rows
and are compared with DuckDB reading the same snapshot Parquet.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import functions as F
from spans import dir_bytes

from dronedb_spark.catalog.store import CATALOG_DIR, DatasetCatalog, SnapshotTable
from dronedb_spark.operators.search import list_folder, search
from dronedb_spark.operators.stac import stac_items, stac_items_keyset, stac_number_matched
from dronedb_spark.sources.fs import ENTRIES_SCHEMA, META_SCHEMA

FOLDERS = 200  # top folders fNNN, each with SUBS subfolders of FILES files
SUBS = 10
FILES = 100
T_LO, T_HI = 1_500_000_000, 1_600_000_000  # instants (s) the entries span

_COLS = ["path", "type", "datetime_s", "bbox_minx", "bbox_miny", "bbox_maxx", "bbox_maxy"]
_INSTANT = (
    "CASE WHEN capture_ms > 0 THEN CAST((capture_ms - capture_ms % 1000) / 1000 AS BIGINT)"
    " ELSE mtime END"
)


def _entries_frame(spark, seed: int):
    """Files ``fNNN/sK/imgNNNNNN.jpg`` (90% GeoImage, 10% Image without a
    point) plus their folder rows; every column a hash of (seed, id)."""

    def u(salt: int):
        h = F.xxhash64(F.lit(seed), F.col("id"), F.lit(salt))
        return F.pmod(h, F.lit(1 << 30)).cast("double") / float(1 << 30)

    n = FOLDERS * SUBS * FILES
    geo = u(1) < 0.9
    lon = F.when(geo, -180.0 + 360.0 * u(2))
    lat = F.when(geo, -80.0 + 160.0 * u(3))
    files = spark.range(0, n, numPartitions=4).select(
        F.format_string(
            "f%03d/s%d/img%06d.jpg",
            (F.col("id") / (SUBS * FILES)).cast("int"),
            ((F.col("id") / FILES) % SUBS).cast("int"),
            F.col("id"),
        ).alias("path"),
        F.sha2(F.concat_ws(":", F.lit(str(seed)), F.col("id").cast("string")), 256).alias("hash"),
        F.when(geo, 3).otherwise(6).alias("type"),
        F.format_string('{"make":"DDB","model":"CAM%d"}', (u(4) * 4).cast("int")).alias(
            "properties"
        ),
        (T_LO + (u(5) * (T_HI - T_LO))).cast("long").alias("mtime"),
        (50_000 + u(6) * 5_000_000).cast("long").alias("size"),
        F.lit(2).alias("depth"),
        lon.alias("point_lon"),
        lat.alias("point_lat"),
        F.when(geo, 50.0 + 100.0 * u(7)).alias("point_alt"),
        lon.alias("bbox_minx"),
        lat.alias("bbox_miny"),
        lon.alias("bbox_maxx"),
        lat.alias("bbox_maxy"),
        F.when(u(8) < 0.8, (T_LO + u(9) * (T_HI - T_LO)) * 1000)
        .otherwise(0)
        .cast("long")
        .alias("capture_ms"),
    )
    d = spark.range(0, FOLDERS * (SUBS + 1), numPartitions=1)
    top = F.col("id") < FOLDERS
    sub = F.col("id") - FOLDERS
    dirs = d.select(
        F.when(top, F.format_string("f%03d", F.col("id")))
        .otherwise(
            F.format_string("f%03d/s%d", (sub / SUBS).cast("int"), (sub % SUBS).cast("int"))
        )
        .alias("path"),
        F.lit("").alias("hash"),
        F.lit(1).alias("type"),
        F.lit("null").alias("properties"),
        F.lit(T_LO).cast("long").alias("mtime"),
        F.lit(0).cast("long").alias("size"),
        F.when(top, 0).otherwise(1).alias("depth"),
        *[F.lit(None).cast("double").alias(c) for c in ENTRIES_SCHEMA.fieldNames()[7:14]],
        F.lit(0).cast("long").alias("capture_ms"),
    )
    out = files.unionByName(dirs)
    return out.select([F.col(f.name).cast(f.dataType) for f in ENTRIES_SCHEMA.fields])


class CatalogQuery:
    kinds = ["stac_items", "stac_items_keyset", "stac_number_matched", "search", "list_folder"]
    warmup_blocks = 6
    layer = "query"
    changed_per_op = 0

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.root = os.path.join(work, "dataset")
        self.seed = seed
        self.tracer = tracer
        self.rng = random.Random(f"{seed}:catalog_query:ops")
        self.check_rng = random.Random(f"{seed}:catalog_query:check")
        self.checked: list[tuple[str, dict, list]] = []

    def setup(self) -> None:
        base = os.path.join(self.root, CATALOG_DIR)
        SnapshotTable(self.spark, os.path.join(base, "entries"), ENTRIES_SCHEMA).write(
            _entries_frame(self.spark, self.seed)
        )
        SnapshotTable(self.spark, os.path.join(base, "entries_meta"), META_SCHEMA).write(
            self.spark.createDataFrame([], META_SCHEMA)
        )
        self.catalog = DatasetCatalog(self.spark, self.root)

    # ------------------------------------------------------------ ops

    def prepare(self, kind: str) -> dict:
        """The op's seeded parameters (reads change nothing between ops)."""
        r = self.rng
        lon0, lat0 = r.uniform(-180.0, 150.0), r.uniform(-80.0, 65.0)
        t0 = r.randrange(T_LO, T_HI - (T_HI - T_LO) // 2)
        stac = {"bbox": (lon0, lat0, lon0 + 30.0, lat0 + 15.0), "t_start": t0,
                "t_end": t0 + (T_HI - T_LO) // 2}
        folder = f"f{r.randrange(FOLDERS):03d}"
        if kind == "stac_items":
            return {**stac, "limit": r.randrange(10, 26), "offset": r.randrange(0, 40)}
        if kind == "stac_items_keyset":
            return {**stac, "after_path": f"{folder}/s{r.randrange(SUBS)}", "limit": 10}
        if kind == "stac_number_matched":
            return stac
        if kind == "search":
            return {"pattern": f"{folder}/s*/img*{r.randrange(10)}.jpg"}
        return {"folder": f"{folder}/s{r.randrange(SUBS)}"}

    def execute(self, kind: str, p: dict) -> list:
        entries = self.catalog.entries()
        with self.tracer.span("operators.build"):
            if kind == "stac_items":
                df = stac_items(entries, p["bbox"], p["t_start"], p["t_end"], p["limit"], p["offset"])
            elif kind == "stac_items_keyset":
                df = stac_items_keyset(
                    entries, p["bbox"], p["t_start"], p["t_end"], p["after_path"], p["limit"]
                )
            elif kind == "stac_number_matched":
                df = stac_number_matched(entries, p["bbox"], p["t_start"], p["t_end"])
            elif kind == "search":
                df = search(entries, p["pattern"]).select("path", "hash", "type", "depth")
            else:
                df = list_folder(entries, p["folder"]).select("path", "type", "depth")
        return df.collect()

    def check(self, kind: str, p: dict, rows: list) -> bool:
        """Keep a seeded quarter of the results for the DuckDB comparison."""
        if self.check_rng.random() < 0.25:
            self.checked.append((kind, p, [tuple(r) for r in rows]))
        return True

    # ------------------------------------------------------------ oracle

    def _oracle_sql(self, kind: str, p: dict) -> str:
        if kind == "search":
            glob = p["pattern"].replace("'", "''")
            return (
                f"SELECT path, hash, type, depth FROM entries WHERE path GLOB '{glob}'"
                " ORDER BY path"
            )
        if kind == "list_folder":
            f = p["folder"]
            return (
                "SELECT path, type, depth FROM entries"
                f" WHERE path = '{f}' OR starts_with(path, '{f}/') ORDER BY type, path"
            )
        x0, y0, x1, y1 = (repr(float(v)) for v in p["bbox"])
        where = (
            "type <> 1 AND (point_lon IS NOT NULL OR bbox_minx IS NOT NULL)"
            f" AND NOT (bbox_maxx < {x0} OR bbox_minx > {x1} OR bbox_maxy < {y0}"
            f" OR bbox_miny > {y1})"
            f" AND {_INSTANT} >= {p['t_start']} AND {_INSTANT} <= {p['t_end']}"
        )
        if kind == "stac_number_matched":
            return f"SELECT COUNT(*) FROM entries WHERE {where}"
        cols = ", ".join(
            f"{_INSTANT} AS datetime_s" if c == "datetime_s" else c for c in _COLS
        )
        if kind == "stac_items":
            return (
                f"SELECT {cols} FROM entries WHERE {where} ORDER BY path"
                f" LIMIT {p['limit']} OFFSET {p['offset']}"
            )
        return (
            f"SELECT {cols} FROM entries WHERE {where} AND path > '{p['after_path']}'"
            f" ORDER BY path LIMIT {p['limit']}"
        )

    def verify(self) -> int:
        """Compare the kept results with DuckDB; returns the mismatch count."""
        import duckdb

        snap = os.path.join(self.root, CATALOG_DIR, "entries")
        with open(os.path.join(snap, "CURRENT")) as fh:
            files = os.path.join(snap, fh.read().strip(), "*.parquet")
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW entries AS SELECT * FROM read_parquet('{files}')")
            bad = 0
            for kind, p, rows in self.checked:
                want = [tuple(r) for r in con.execute(self._oracle_sql(kind, p)).fetchall()]
                if rows != want:
                    bad += 1
                    print(f"MISMATCH {kind} {p}: {len(rows)} rows vs {len(want)} from DuckDB")
            return bad
        finally:
            con.close()

    def disk_bytes(self) -> int:
        return dir_bytes(os.path.join(self.root, CATALOG_DIR))
