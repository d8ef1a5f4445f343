"""One commit protocol for every mutable persisted artifact: a
versioned manifest on the Hadoop ``FileSystem`` API.

An artifact root holds parquet part dirs named ``<part>-<version>``
and one manifest per version, ``_manifest/<version>.json``::

    {"kind": ..., "meta": {...}, "parts": {"<part>": ["<part>-<v>", ...]}}

The highest readable version is live, and readers touch only the part
dirs it lists. A write (``commit``) goes in three steps:

1. write the new part dirs — always fresh names, never a dir an older
   manifest lists;
2. ``FileSystem.create(_manifest/<v>.json, overwrite=false)`` — the one
   commit point (no rename, no marker removal);
3. sweep every dir and older manifest the new manifest does not list.

A crash before step 2 leaves the previous version live, a crash after
it leaves the new one live, and the next commit's sweep removes
whatever the crash left behind. One writer per artifact root at a
time: the exclusive create makes a racing writer that picked the same
version fail, but a writer that loaded an older manifest would drop
parts committed in between.

Users: the ANN index (``operators.pq``), the two fingerprint index
kinds (``operators.dedup``: MinHash and the tagged Hamming families)
and curate's per-stage store (``pipeline.curate``). The index kinds
share one tombstone lifecycle here: ``remove_from_index`` and
``compact_index``, keyed by the id column each manifest records.

Every path goes through ``FileSystem`` (the resolution Spark's own
readers and writers use), so a ``file:``, ``hdfs:`` or ``s3a:`` root
works the same as a plain local path.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST_DIR = "_manifest"
_MANIFEST_NAME = re.compile(r"(\d+)\.json")
# index kinds with a row part plus tombstones (the lifecycle kinds)
_INDEX_KINDS = ("ann_ivf_pq", "minhash", "fp_tagged")
_COUNTERS = ("appends", "removes", "compactions")


def hadoop_fs(spark: SparkSession, path: str):
    """Resolve ``path`` through the Hadoop ``FileSystem`` API so the
    caller works on whatever scheme the path carries. Returns
    ``(FileSystem, Path)``."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def read_text(spark: SparkSession, fs, path) -> str:
    """The UTF-8 text of a small file."""
    stream = fs.open(path)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def write_text(fs, path, text: str, overwrite: bool) -> None:
    """Write a small file; with ``overwrite=False`` the create fails if
    the file exists."""
    out = fs.create(path, overwrite)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()


@dataclass(frozen=True)
class Manifest:
    root: str
    version: int
    kind: str
    meta: dict
    parts: dict

    def paths(self, part: str) -> list[str]:
        return [f"{self.root}/{d}" for d in self.parts.get(part, [])]

    def read(self, spark: SparkSession, part: str) -> DataFrame | None:
        """The part's parquet dirs as one frame; None when it lists
        none."""
        paths = self.paths(part)
        return spark.read.parquet(*paths) if paths else None


def _root(path: str) -> str:
    return path.rstrip("/")


def _manifest_versions(spark: SparkSession, root: str) -> list[int]:
    fs, mdir = hadoop_fs(spark, f"{root}/{_MANIFEST_DIR}")
    if not fs.exists(mdir):
        return []
    names = (st.getPath().getName() for st in fs.listStatus(mdir))
    return sorted(
        int(m.group(1))
        for m in map(_MANIFEST_NAME.fullmatch, names)
        if m
    )


def load_manifest(spark: SparkSession, path: str) -> Manifest | None:
    """The live manifest of the artifact at ``path``, or None when no
    version was ever committed. A manifest that does not parse (a
    crash inside its create) is skipped: the version below it is live."""
    root = _root(path)
    for v in reversed(_manifest_versions(spark, root)):
        fs, mpath = hadoop_fs(spark, f"{root}/{_MANIFEST_DIR}/{v}.json")
        try:
            doc = json.loads(read_text(spark, fs, mpath))
            return Manifest(root, v, doc["kind"], doc["meta"], doc["parts"])
        except (ValueError, KeyError, TypeError):
            continue
    return None


def require_manifest(
    spark: SparkSession, path: str, kinds: tuple | str | None = None
) -> Manifest:
    """``load_manifest`` that raises the one "not a committed artifact"
    error for a root without a manifest, and a kind error when the
    manifest's kind is not among ``kinds``."""
    m = load_manifest(spark, path)
    if m is None:
        raise ValueError(
            f"{_root(path)} is not a committed artifact (no "
            f"{_MANIFEST_DIR}/) — rebuild it"
        )
    if isinstance(kinds, str):
        kinds = (kinds,)
    if kinds is not None and m.kind not in kinds:
        raise ValueError(
            f"{m.root} is a {m.kind!r} artifact, not {' or '.join(kinds)}"
        )
    return m


def _next_version(spark: SparkSession, path: str) -> int:
    """The version a new commit to ``path`` writes its parts under:
    one above every manifest file present, readable or not."""
    return max(_manifest_versions(spark, _root(path)), default=0) + 1


def _part_dir(part: str, version: int) -> str:
    return f"{part}-{version}"


def _create_manifest(spark: SparkSession, root: str, version: int, doc: dict):
    fs, mpath = hadoop_fs(spark, f"{root}/{_MANIFEST_DIR}/{version}.json")
    write_text(fs, mpath, json.dumps(doc, sort_keys=True), overwrite=False)


def _sweep(spark: SparkSession, root: str, version: int, keep: set) -> None:
    keep = keep | {_MANIFEST_DIR}
    fs, jroot = hadoop_fs(spark, root)
    for st in fs.listStatus(jroot):
        if st.getPath().getName() not in keep:
            fs.delete(st.getPath(), True)
    fs, mdir = hadoop_fs(spark, f"{root}/{_MANIFEST_DIR}")
    for st in fs.listStatus(mdir):
        if st.getPath().getName() != f"{version}.json":
            fs.delete(st.getPath(), False)


def _commit(
    spark: SparkSession,
    path: str,
    version: int,
    kind: str,
    meta: dict,
    parts: dict,
) -> Manifest:
    """Commit ``version`` (its part dirs already written): create its
    manifest, then sweep everything it does not list."""
    root = _root(path)
    _create_manifest(
        spark, root, version, {"kind": kind, "meta": meta, "parts": parts}
    )
    _sweep(spark, root, version, {d for ds in parts.values() for d in ds})
    return Manifest(root, version, kind, meta, parts)


def write_new(
    spark: SparkSession, path: str, kind: str, meta: dict, parts: dict
) -> Manifest:
    """Replace whatever ``path`` holds with a fresh version: ``parts``
    maps each part name to the frame written as its one dir (a callable
    ``(path) -> None`` writes a part that is not a frame). Index kinds
    start with no tombstones and zeroed counters."""
    v = _next_version(spark, path)
    names = {}
    for part, src in parts.items():
        name = _part_dir(part, v)
        target = f"{_root(path)}/{name}"
        if callable(src):
            src(target)
        else:
            src.write.mode("overwrite").parquet(target)
        names[part] = [name]
    if kind in _INDEX_KINDS:
        names["tombstones"] = []
        meta = {**meta, **{c: 0 for c in _COUNTERS}}
    return _commit(spark, path, v, kind, meta, names)


def add_part(
    spark: SparkSession, m: Manifest, part: str, df: DataFrame, counter: str
) -> Manifest:
    """Commit ``df`` as one more dir of ``part`` on top of ``m``,
    incrementing ``counter``."""
    v = _next_version(spark, m.root)
    name = _part_dir(part, v)
    df.write.mode("overwrite").parquet(f"{m.root}/{name}")
    meta = {**m.meta, counter: int(m.meta.get(counter, 0)) + 1}
    parts = {**m.parts, part: m.parts.get(part, []) + [name]}
    return _commit(spark, m.root, v, m.kind, meta, parts)


# ---------------------------------------------------------------------------
# Index lifecycle: tombstones + deferred compaction for every index kind
# ---------------------------------------------------------------------------


def _rows_part(m: Manifest) -> str:
    """The part holding an index's rows: the ANN's codes, every
    fingerprint kind's data."""
    return "codes" if m.kind == "ann_ivf_pq" else "data"


def live_rows(spark: SparkSession, m: Manifest) -> DataFrame:
    """An index's rows minus its tombstoned ids — what every loader
    and search serves. A tombstone suppresses its id even when the
    same id is appended again later; only a compact clears it.

    No forced broadcast: tombstones are usually tiny (AQE picks a
    broadcast from the measured size), but a deployment that defers
    compaction grows them without bound."""
    rows = m.read(spark, _rows_part(m))
    tomb = m.read(spark, "tombstones")
    if tomb is None:
        return rows
    id_col = m.meta["id_col"]
    return rows.join(tomb.select(id_col).distinct(), id_col, "left_anti")


def _counters(m: Manifest) -> dict:
    return {c: int(m.meta.get(c, 0)) for c in _COUNTERS}


def remove_from_index(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    compact_ratio_threshold: float = 0.1,
) -> dict:
    """Takedowns for any index kind: tombstone ``ids`` so they stop
    being served at the next load or search, deferring the row rewrite
    to ``compact_index``. ``ids`` carries the index's id column (the
    manifest records its name). Ids are cast to the index's id type,
    distinct-ed and pinned (localCheckpoint) before anything is
    written, so a broken producer fails with the artifact untouched.
    Unknown ids tombstone harmlessly but inflate the reported ratio.

    Report: ``requested`` / ``tombstones_total`` / ``index_rows``
    (physical rows) / ``tombstone_ratio`` / ``compact_recommended``
    plus the manifest's ``appends`` / ``removes`` / ``compactions``."""
    m = require_manifest(spark, path, _INDEX_KINDS)
    id_col = m.meta["id_col"]
    if id_col not in ids.columns:
        raise ValueError(
            f"ids frame lacks column {id_col!r} (has {ids.columns}) — "
            f"the index at {m.root} keys on {id_col!r}"
        )
    rows = m.read(spark, _rows_part(m))
    tomb = (
        ids.select(
            F.col(id_col).cast(rows.schema[id_col].dataType).alias(id_col)
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_req = tomb.count()
    if n_req:
        m = add_part(spark, m, "tombstones", tomb, "removes")
    tombs = m.read(spark, "tombstones")
    n_tomb = 0 if tombs is None else tombs.select(id_col).distinct().count()
    n_rows = rows.count()
    ratio = round(n_tomb / n_rows, 6) if n_rows else 0.0
    return {
        "requested": n_req,
        "tombstones_total": n_tomb,
        "index_rows": n_rows,
        "tombstone_ratio": ratio,
        "compact_recommended": ratio >= compact_ratio_threshold,
        **_counters(m),
    }


def compact_index(
    spark: SparkSession,
    path: str,
    min_ratio: float = 0.1,
    force: bool = False,
) -> dict:
    """Fold tombstones into the rows of any index kind — the vacuum.
    Deferred below ``min_ratio`` (the per-load anti-join is cheaper
    than the rewrite) unless ``force``. The rewritten rows land in a
    new part dir and are COUNT-VALIDATED against an independently
    derived survivor count before the manifest commit: a rewrite that
    loses or duplicates rows raises with the old version still live.
    Loads and searches return the same rows before and after."""
    m = require_manifest(spark, path, _INDEX_KINDS)
    id_col = m.meta["id_col"]
    part = _rows_part(m)
    rows = m.read(spark, part)
    n_rows = rows.count()
    if not m.parts.get("tombstones"):
        return {
            "compacted": False,
            "reason": "no tombstones",
            "index_rows": n_rows,
            **_counters(m),
        }
    tomb = m.read(spark, "tombstones").select(id_col).distinct()
    n_tomb = tomb.count()
    ratio = round(n_tomb / n_rows, 6) if n_rows else 0.0
    if not force and ratio < min_ratio:
        return {
            "compacted": False,
            "reason": f"tombstone_ratio {ratio} < min_ratio {min_ratio}",
            "index_rows": n_rows,
            "tombstones_total": n_tomb,
            "tombstone_ratio": ratio,
            **_counters(m),
        }
    n_dead = rows.join(tomb, id_col, "left_semi").count()
    v = _next_version(spark, m.root)
    name = _part_dir(part, v)
    rows.join(tomb, id_col, "left_anti").write.mode("overwrite").parquet(
        f"{m.root}/{name}"
    )
    n_after = spark.read.parquet(f"{m.root}/{name}").count()
    if n_after != n_rows - n_dead:
        raise ValueError(
            f"compaction rewrite produced {n_after} rows, expected "
            f"{n_rows} - {n_dead} = {n_rows - n_dead} — aborting with "
            f"version {m.version} of {m.root} still live"
        )
    meta = {**m.meta, "compactions": int(m.meta.get("compactions", 0)) + 1}
    m = _commit(
        spark, m.root, v, m.kind, meta,
        {**m.parts, part: [name], "tombstones": []},
    )
    return {
        "compacted": True,
        "index_rows_before": n_rows,
        "index_rows_after": n_after,
        "folded_tombstones": n_tomb,
        "tombstone_ratio": ratio,
        **_counters(m),
    }
