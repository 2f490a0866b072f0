"""``catalog_write``: index maintenance on a seeded tree of geotagged JPEGs.

Before each op, outside the timed window, the generator rewrites, adds and
deletes a seeded handful of files and stamps every file and folder it
touched with an explicit mtime, one second later per op (``list_files_df``
compares whole seconds, so wall-clock mtimes would make the work per op
depend on timing).  The op is ``DatasetCatalog.add()``, ``sync()``,
``remove(pattern)`` or ``meta_set(...)``.  A plain-Python model of disk, index
and meta is kept alongside: ``sync`` status counts and ``remove`` counts are
checked per op, and at the end of the run the index is compared with a walk
of the tree.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
from collections import Counter

from spans import dir_bytes

from dronedb_spark.catalog.derive import ENTRY_TYPES
from dronedb_spark.catalog.store import CATALOG_DIR, DatasetCatalog
from dronedb_spark.sources.exif import build_jpeg_with_exif

FOLDERS = 20
FILES = 100  # initial files per folder
REWRITE, ADD, DELETE = 3, 3, 2  # files changed before every op
MTIME0 = 1_600_000_000


class CatalogWrite:
    kinds = ["add", "remove", "add", "meta_set", "sync"]
    warmup_blocks = 1
    layer = "catalog"
    changed_per_op = REWRITE + ADD + DELETE

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.root = os.path.join(work, "dataset")
        self.rng = random.Random(f"{seed}:catalog_write")
        self.tick = 0
        self.next_name = 0
        self.files: dict[str, tuple[int, float, float]] = {}  # path -> (mtime, lat, lon)
        self.dirs: dict[str, int] = {}
        self.index: dict[str, int] = {}  # what the catalog should hold: path -> mtime
        self.meta: dict[tuple[str, str], str] = {}

    # ------------------------------------------------------------ generator

    def _write_file(self, rel: str, mtime: int) -> None:
        r = self.rng
        lat_dms = (r.randrange(0, 80), r.randrange(0, 60), (r.randrange(0, 6000), 100))
        lon_dms = (r.randrange(0, 180), r.randrange(0, 60), (r.randrange(0, 6000), 100))
        lat_ref, lon_ref = r.choice("NS"), r.choice("EW")
        data = build_jpeg_with_exif(
            lat_dms=lat_dms, lat_ref=lat_ref, lon_dms=lon_dms, lon_ref=lon_ref,
            alt=(r.randrange(1000, 20000), 10),
            datetime_original=f"2024:06:{r.randrange(1, 29):02d} 10:{r.randrange(60):02d}:00",
            make="DDB", model=f"CAM{r.randrange(4)}",
        )
        full = os.path.join(self.root, rel)
        with open(full, "wb") as fh:
            fh.write(data)
        os.utime(full, (mtime, mtime))

        def deg(d, m, s, ref):  # the parser's arithmetic: d + m/60 + (num/den)/3600
            v = d + m / 60.0 + (s[0] / s[1]) / 3600.0
            return -v if ref in "SW" else v

        self.files[rel] = (mtime, deg(*lat_dms, lat_ref), deg(*lon_dms, lon_ref))

    def _new_name(self) -> str:
        self.next_name += 1
        return f"d{self.rng.randrange(FOLDERS):02d}/img{self.next_name:05d}.jpg"

    def _stamp_dirs(self, mtime: int) -> None:
        for d in self.dirs:
            os.utime(os.path.join(self.root, d), (mtime, mtime))
            self.dirs[d] = mtime

    def setup(self) -> None:
        for i in range(FOLDERS):
            os.makedirs(os.path.join(self.root, f"d{i:02d}"))
            self.dirs[f"d{i:02d}"] = MTIME0
        for _ in range(FOLDERS * FILES):
            self._write_file(self._new_name(), MTIME0)
        self._stamp_dirs(MTIME0)
        self.catalog = DatasetCatalog.init(self.spark, self.root)
        self.catalog.add()
        self.index = self._disk()

    def prepare(self, kind: str) -> dict:
        """Mutate the tree (untimed) and draw the op's parameters."""
        self.tick += 1
        mtime = MTIME0 + self.tick
        paths = sorted(self.files)
        picked = self.rng.sample(paths, REWRITE + DELETE)
        for rel in picked[:REWRITE]:
            self._write_file(rel, mtime)
        for rel in picked[REWRITE:]:
            os.remove(os.path.join(self.root, rel))
            del self.files[rel]
        for _ in range(ADD):
            self._write_file(self._new_name(), mtime)
        self._stamp_dirs(mtime)
        if kind == "remove":
            return {"pattern": f"d{self.rng.randrange(FOLDERS):02d}/img*{self.rng.randrange(10)}.jpg"}
        if kind == "sync":
            return {"expected": self._expected_status()}
        if kind == "meta_set":
            return {"key": "note", "data": f"note-{self.tick}", "path": self.rng.choice(paths),
                    "mtime": mtime}
        return {}

    # ------------------------------------------------------------ ops

    def execute(self, kind: str, p: dict):
        if kind == "add":
            return self.catalog.add()
        if kind == "sync":
            return self.catalog.sync()
        if kind == "remove":
            return self.catalog.remove(p["pattern"])
        return self.catalog.meta_set(p["key"], p["data"], p["path"], p["mtime"])

    def _disk(self) -> dict[str, int]:
        return {**{p: v[0] for p, v in self.files.items()}, **self.dirs}

    def _expected_status(self) -> dict[str, int]:
        disk = self._disk()
        out: Counter = Counter()
        for p in disk.keys() | self.index.keys():
            if p not in disk:
                out["Deleted"] += 1
            elif p not in self.index:
                out["NotIndexed"] += 1
            else:
                out["Modified" if disk[p] != self.index[p] else "NotModified"] += 1
        return dict(out)

    def check(self, kind: str, p: dict, result) -> bool:
        """Advance the model past the op and check what the op returned;
        then drop superseded snapshots (a user's default retention)."""
        ok = True
        if kind == "add":
            self.index.update(self._disk())
        elif kind == "sync":
            ok = result == p["expected"]
            self.index = self._disk()
        elif kind == "remove":
            rx = re.compile(re.escape(p["pattern"]).replace(r"\*", ".*") + "(/.*)?")
            hit = [q for q in self.index if rx.fullmatch(q)]
            ok = result == len(hit)
            for q in hit:
                del self.index[q]
            self.meta = {k: v for k, v in self.meta.items() if not rx.fullmatch(k[0])}
        else:
            self.meta[(p["path"], p["key"])] = p["data"]
        self.catalog.vacuum(keep=2)
        return ok

    # ------------------------------------------------------------ oracle

    def verify(self) -> int:
        """Settle the index with one more (untimed) sync, then compare it with
        a walk of the tree.  Returns 1 on any mismatch, else 0."""
        p = {"expected": self._expected_status()}
        bad = 0 if self.check("sync", p, self.catalog.sync()) else 1
        rows = {r["path"]: r for r in self.catalog.entries().collect()}
        walked = {}
        for dirpath, dirnames, files in os.walk(self.root):
            dirnames[:] = [d for d in dirnames if d != CATALOG_DIR]
            rel = os.path.relpath(dirpath, self.root)
            if rel != ".":
                walked[rel] = None
            for f in files:
                full = os.path.join(dirpath, f)
                with open(full, "rb") as fh:
                    sha = hashlib.sha256(fh.read()).hexdigest()
                walked[os.path.join(rel, f) if rel != "." else f] = (
                    sha, int(os.stat(full).st_mtime))
        bad += len(rows.keys() ^ walked.keys())
        for path in rows.keys() & walked.keys():
            r, w = rows[path], walked[path]
            if w is None:
                bad += r["type"] != ENTRY_TYPES["Directory"]
                continue
            _, lat, lon = self.files[path]
            bad += not (
                r["type"] == ENTRY_TYPES["GeoImage"] and (r["hash"], r["mtime"]) == w
                and abs(r["point_lat"] - lat) < 1e-9 and abs(r["point_lon"] - lon) < 1e-9
            )
        meta = {(r["path"], r["key"]): r["data"] for r in self.catalog.meta().collect()}
        bad += meta != self.meta
        if bad:
            print(f"MISMATCH catalog_write: {bad} paths or checks differ from the tree walk")
        return int(bad > 0)

    def disk_bytes(self) -> int:
        return dir_bytes(os.path.join(self.root, CATALOG_DIR))
