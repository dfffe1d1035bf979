"""Minimal parquet transaction log — Delta-semantics without delta-spark.

The reference's core storage primitive is the Delta transaction log
(``merge_generator.py`` MERGE INTO, ``autocompact_delta.py`` OPTIMIZE,
time travel for debugging loads). delta-spark cannot be installed in
this environment, so the engine ships the smallest honest implementation
of the same *semantics* over plain parquet:

- a table is a directory of immutable parquet data files plus a
  ``_txlog/`` directory of numbered JSON commits, each recording the
  files it adds and removes;
- readers resolve a SNAPSHOT: replay the log in version order, take
  (adds − removes), and scan exactly those files — concurrent writers
  never disturb a running read, half-written data files are invisible
  until committed;
- writers use OPTIMISTIC CONCURRENCY: stage data files under unique
  names, then claim the next version with an exclusive-create
  (``open(..., 'x')``) of ``_txlog/<version>.json`` — the POSIX atomic
  primitive (object stores: put-if-absent). Losing a race raises
  ``CommitConflict``; appends auto-retry (order-free), rewriting
  commits (overwrite/merge/compact) re-run their read-modify-write so
  they never clobber a concurrent change (serializable for
  single-table read-modify-write);
- time travel = replay to a version; VACUUM deletes files no live
  version references, with a dry-run safety default;
- every commit (and checkpoint) records the TABLE SCHEMA, as Delta
  keeps it in its log: reads hand Spark that schema instead of paying
  a footer-inference job per call, and the columns a read returns are
  the log's, never whatever a data file happens to hold. Tables whose
  commits predate the field still read (inferred, as before);
- MERGE is one plan: a full-outer join of snapshot and changeset whose
  rows expand into the new data row plus its change-data-feed images,
  written by ONE staging write that routes data and ``_cdf/`` files by
  a partition column (see :func:`merge`).

This is deliberately a TEST-GRADE single-table log: no checkpoint
parquet of the log, no multi-table transactions, no column-mapping.
The Delta-gated writers in ``sources.writers`` remain the production
path; this module exists so merge/OPTIMIZE/time-travel SEMANTICS are
executable and tested here, not gated-silent.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

# partition column of the MERGE staging write: "data" rows land in the
# table root, "cdf" rows under _cdf/ (Spark drops it from the files)
_ROUTE = "__txlog_route"


class CommitConflict(Exception):
    """Another writer claimed the version this commit targeted."""


def _log_dir(path: str) -> str:
    return os.path.join(path, "_txlog")


def _versions(path: str) -> list[int]:
    d = _log_dir(path)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[:-5])
        for f in os.listdir(d)
        if f.endswith(".json") and f[:-5].isdigit()
    )


def _read_commit(path: str, v: int) -> dict:
    with open(os.path.join(_log_dir(path), f"{v:08d}.json")) as f:
        return json.load(f)


def _ckpt_dir(path: str) -> str:
    return os.path.join(_log_dir(path), "_checkpoints")


def _checkpoint_versions(path: str) -> list[int]:
    d = _ckpt_dir(path)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f.split(".")[0])
        for f in os.listdir(d)
        if f.endswith(".ckpt.json") and f.split(".")[0].isdigit()
    )


def _latest_checkpoint(path: str, version: int | None = None) -> dict | None:
    """Newest checkpoint at-or-before ``version`` (latest if None)."""
    best = None
    for v in _checkpoint_versions(path):
        if version is None or v <= version:
            best = v
    if best is None:
        return None
    with open(os.path.join(_ckpt_dir(path), f"{best:08d}.ckpt.json")) as f:
        return json.load(f)


def _snapshot(
    path: str, version: int | None = None
) -> tuple[list[str], int, dict | None]:
    """Replay the log → (live data files, resolved version, recorded
    schema). The schema is the JSON form the newest replayed commit
    recorded (a commit written without the field keeps the one before
    it), or None for a log that predates the field."""
    ck = _latest_checkpoint(path, version)
    live: set[str] = set(ck["live"]) if ck else set()
    resolved = ck["version"] if ck else -1
    schema = ck.get("schema") if ck else None
    vs = _versions(path)
    for v in vs:
        if v <= resolved:
            continue
        if version is not None and v > version:
            break
        c = _read_commit(path, v)
        live -= set(c.get("remove", []))
        live |= set(c.get("add", []))
        schema = c.get("schema", schema)
        resolved = v
    if (
        version is not None
        and ck is None
        and _checkpoint_versions(path)
        and not any(v <= version for v in vs)
    ):
        raise ValueError(
            f"version {version} predates the oldest checkpoint of {path} "
            "and its commits were removed by clean_log(); time travel "
            "below the checkpoint horizon is gone (Delta log-retention "
            "semantics)"
        )
    return sorted(live), resolved, schema


def snapshot_files(path: str, version: int | None = None) -> tuple[list[str], int]:
    """Replay the log → (live data files, resolved version). Version
    ``None`` = latest; -1 (empty table) when no commits exist.

    Replay starts from the newest checkpoint at-or-before ``version``
    (see :func:`checkpoint_log`) and walks only the commits after it —
    O(commits since checkpoint), not O(table history)."""
    files, v, _ = _snapshot(path, version)
    return files, v


def _record(schema: StructType) -> dict:
    """A table schema in commit form: top-level fields nullable, as a
    parquet scan reads them."""
    return StructType(
        [StructField(f.name, f.dataType, True, f.metadata) for f in schema.fields]
    ).jsonValue()


def _struct(recorded: dict | None) -> StructType | None:
    return StructType.fromJson(recorded) if recorded else None


def _scan(
    spark: SparkSession,
    path: str,
    files: list[str],
    schema: StructType | None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read table files with ``schema`` (no footer job); ``None`` infers
    it from the footers (tables without a recorded schema)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*[os.path.join(path, f) for f in files])


def _table_schema(
    spark: SparkSession, path: str, files: list[str], recorded: dict | None
) -> StructType | None:
    """The snapshot's schema for a WRITE: the recorded one, else the
    union of the files' footers (one job, old-format tables only)."""
    if recorded or not files:
        return _struct(recorded)
    return _scan(spark, path, files, None, merge_schema=True).schema


def _widen(base: StructType | None, new: StructType) -> StructType:
    """``base`` plus the fields of ``new`` it lacks (append evolution)."""
    if base is None:
        return new
    have = set(base.fieldNames())
    return StructType(base.fields + [f for f in new.fields if f.name not in have])


def _discard(path: str, names: list[str]) -> None:
    """Delete staged files a failed or rejected commit never published."""
    for n in names:
        try:
            os.remove(os.path.join(path, n))
        except FileNotFoundError:
            pass


def _stage(
    df: DataFrame,
    path: str,
    target_files: int | None,
    routed: bool = False,
    verify=None,
) -> list[str]:
    """Write data files under unique names; return table-relative paths.
    Staged files are invisible until a commit references them.

    ``routed=True`` partitions the write by the ``_ROUTE`` column:
    "data" files land in the table root, "cdf" files under ``_cdf/`` (so
    Structured Streaming can tail them as a native file stream); the
    route column itself is not stored. ``verify`` runs after the write
    and before anything is moved into the table — raising there leaves
    no file behind."""
    stage_id = uuid.uuid4().hex[:12]
    stage_dir = os.path.join(path, f"_stage_{stage_id}")
    out = df.coalesce(target_files) if target_files else df
    writer = out.write.mode("overwrite")
    if routed:
        writer = writer.partitionBy(_ROUTE)
    names: list[str] = []
    try:
        writer.parquet(stage_dir)
        if verify is not None:
            verify()
        for d, _, files in os.walk(stage_dir):
            sub = "_cdf/" if os.path.basename(d) == f"{_ROUTE}=cdf" else ""
            if sub:
                os.makedirs(os.path.join(path, sub), exist_ok=True)
            for f in files:
                if not f.endswith(".parquet"):
                    continue  # _SUCCESS, .crc
                rel = f"{sub}data_{stage_id}_{f}"
                os.rename(os.path.join(d, f), os.path.join(path, rel))
                names.append(rel)
    except BaseException:
        _discard(path, names)
        raise
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
    return sorted(names)


def _try_commit(path: str, version: int, actions: dict) -> None:
    """Claim ``version`` atomically: write the full JSON to a temp file,
    then ``os.link`` it to the version name — link is exclusive AND
    atomic, so a crash mid-write can never leave a truncated commit file
    that poisons every later snapshot replay (the exclusive-``open``
    + ``json.dump`` it replaces could)."""
    os.makedirs(_log_dir(path), exist_ok=True)
    target = os.path.join(_log_dir(path), f"{version:08d}.json")
    tmp = os.path.join(_log_dir(path), f".{uuid.uuid4().hex[:12]}.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"version": version, "ts": time.time(), **actions}, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, target)
    except FileExistsError as e:
        raise CommitConflict(f"version {version} already committed") from e
    finally:
        os.unlink(tmp)


def _blind_commit(
    df: DataFrame,
    path: str,
    names: list[str],
    op: str,
    *,
    replace: bool,
    stats_cols: list[str] | None = None,
    max_retries: int = 10,
    meta: dict | None = None,
) -> int:
    """Commit ``names``, staged from ``df``, as the next version,
    claiming again against the fresh snapshot after a lost race: blind
    writes do not depend on the snapshot, so a retry never restages.
    ``replace`` removes the snapshot's files and takes ``df``'s schema
    (overwrite); otherwise the table schema widens by ``df``'s new
    columns (append). ``stats_cols`` records per-file min/max. If every
    claim is lost, or anything raises, the staged files are deleted
    before the error propagates."""
    try:
        extra = dict(meta or {})
        if stats_cols:
            extra["stats"] = _collect_stats(
                df.sparkSession, path, names, stats_cols, df.schema
            )
        for _ in range(max_retries):
            live, v, recorded = _snapshot(path)
            actions = {"op": op, "add": names}
            if replace:
                schema = df.schema
                actions["remove"] = live
            else:
                base = _table_schema(df.sparkSession, path, live, recorded)
                schema = _widen(base, df.schema)
            try:
                _try_commit(
                    path, v + 1, {**actions, "schema": _record(schema), **extra}
                )
                return v + 1
            except CommitConflict:
                continue
        raise CommitConflict(f"{op.lower()} lost {max_retries} races on {path}")
    except BaseException:
        _discard(path, names)
        raise


def append(df: DataFrame, path: str, target_files: int | None = None,
           max_retries: int = 10, meta: dict | None = None) -> int:
    """Blind append: stage once, retry only the (cheap) version claim —
    appends commute, so a lost race never restages data. ``meta`` lands
    in the commit record (e.g. ``{"batch_id": n}`` for streaming
    replay detection, mirroring :func:`merge`). Columns the table lacks
    are added to its schema (older files read them as NULL)."""
    os.makedirs(path, exist_ok=True)
    names = _stage(df, path, target_files)
    return _blind_commit(
        df, path, names, "APPEND", replace=False, max_retries=max_retries, meta=meta
    )


def overwrite(
    df: DataFrame,
    path: str,
    target_files: int | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """Replace the whole table in one commit (readers of older versions
    are untouched — their files stay until VACUUM). ``stats_cols``
    records per-file min/max for :func:`read_skipping`. A lost version
    race claims again against the fresh snapshot, like :func:`append`."""
    os.makedirs(path, exist_ok=True)
    names = _stage(df, path, target_files)
    return _blind_commit(
        df, path, names, "OVERWRITE", replace=True, stats_cols=stats_cols
    )


def read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Snapshot read (optionally time travel to ``version``) with the
    schema that version recorded — no Spark job until an action.
    ``merge_schema=True`` is the Delta mergeSchema read of tables
    without a recorded schema: it unions column sets across the
    snapshot's files (columns absent from older files come back NULL).
    A recorded schema already is that union, since appends and merges
    widen it."""
    files, v, recorded = _snapshot(path, version)
    if not files and recorded is None:
        raise FileNotFoundError(f"no committed data in {path} at version {version}")
    return _scan(spark, path, files, _struct(recorded), merge_schema)


def history(path: str) -> list[dict]:
    """The commit log, oldest first (op, version, counts) — the DESCRIBE
    HISTORY analog. ``metrics`` carries the operation metrics the
    commit recorded (MERGE: rows updated/inserted, files and bytes
    added/removed), like Delta's ``operationMetrics``."""
    out = []
    for v in _versions(path):
        c = _read_commit(path, v)
        out.append(
            {
                "version": v,
                "op": c.get("op"),
                "n_added": len(c.get("add", [])),
                "n_removed": len(c.get("remove", [])),
                "metrics": c.get("metrics", {}),
                "ts": c.get("ts"),
            }
        )
    return out


def _replay_stats(path: str, version: int | None = None) -> dict:
    """File → column min/max stats at ``version``: checkpoint base plus
    the commits after it (newest entry per file wins)."""
    ck = _latest_checkpoint(path, version)
    stats: dict = dict(ck.get("stats", {})) if ck else {}
    start = ck["version"] if ck else -1
    for v in _versions(path):
        if v <= start:
            continue
        if version is not None and v > version:
            break
        stats.update(_read_commit(path, v).get("stats", {}))
    return stats


def checkpoint_log(path: str) -> int:
    """Write a log CHECKPOINT at the current version: the fully-replayed
    live file set plus the merged per-file stats for those files, in one
    JSON under ``_txlog/_checkpoints/``. Readers resolve snapshots from
    the newest checkpoint + the commit tail, so replay cost stays
    O(commits since checkpoint) no matter how old the table gets — the
    Delta ``_last_checkpoint`` mechanism (there it's a parquet of the
    log; JSON is honest at this scale since the state is file-level).

    Concurrent writers are unaffected (the checkpoint claims no
    version); two racers checkpointing the same version dedupe via the
    same exclusive-link claim commits use. The checkpoint carries the
    table schema, so reads after :func:`clean_log` still need no footer
    job. Returns the checkpointed version."""
    live, v, schema = _snapshot(path)
    if v < 0:
        raise FileNotFoundError(f"nothing to checkpoint in {path}")
    live_set = set(live)
    stats = {
        f: s for f, s in _replay_stats(path).items() if f in live_set
    }
    os.makedirs(_ckpt_dir(path), exist_ok=True)
    target = os.path.join(_ckpt_dir(path), f"{v:08d}.ckpt.json")
    tmp = os.path.join(_ckpt_dir(path), f".{uuid.uuid4().hex[:12]}.tmp")
    with open(tmp, "w") as f:
        json.dump(
            {"version": v, "ts": time.time(), "live": live, "stats": stats,
             "schema": schema},
            f,
        )
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, target)
    except FileExistsError:
        pass  # a racer checkpointed the same version — identical content
    finally:
        os.unlink(tmp)
    return v


def maybe_checkpoint(path: str, every: int = 10) -> int | None:
    """Checkpoint when the commit tail since the newest checkpoint has
    reached ``every`` commits (the Delta auto-checkpoint cadence).
    Returns the checkpointed version, or None if below the threshold."""
    ck = _latest_checkpoint(path)
    base = ck["version"] if ck else -1
    tail = [v for v in _versions(path) if v > base]
    if len(tail) >= every:
        return checkpoint_log(path)
    return None


def clean_log(path: str, dry_run: bool = True) -> list[str]:
    """Delete commit JSONs at-or-below the newest checkpoint — the log
    analog of VACUUM. After cleaning, time travel and CDF reads below
    the checkpoint horizon are gone (Delta log-retention semantics);
    snapshot reads at/above it are untouched because the checkpoint
    carries the full live set and stats. ``dry_run=True`` only
    reports."""
    ck = _latest_checkpoint(path)
    if ck is None:
        return []
    victims = [
        f"{v:08d}.json" for v in _versions(path) if v <= ck["version"]
    ]
    if not dry_run:
        for name in victims:
            os.remove(os.path.join(_log_dir(path), name))
    return victims


def merge(
    spark: SparkSession,
    path: str,
    changeset: DataFrame,
    keys: list[str],
    target_files: int | None = None,
    max_retries: int = 3,
    meta: dict | None = None,
) -> int:
    """MERGE (upsert, WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT) as
    ONE Spark plan and one staging write, committed as remove-snapshot +
    add-result. A concurrent commit between read and claim raises
    :class:`CommitConflict`; the whole read-modify-write re-runs against
    the new snapshot — the Delta conflict-retry loop. (SCD2 merges: run
    ``operators.merge.apply_changeset`` on :func:`read` output and
    commit via :func:`overwrite` — same log semantics.)

    The plan full-outer joins the snapshot (read with its recorded
    schema) with the changeset on ``keys``. Each joined row expands
    into the table's new row — the changeset's where it has one, else
    the snapshot's — plus its CHANGE DATA FEED images (``_change_type``
    ∈ insert / update_preimage / update_postimage, stamped with
    ``_commit_version``). One write partitioned by a route column puts
    the data files in the table root and the change files under
    ``_cdf/`` (readable with :func:`read_changes`, tailable with
    :func:`stream_changes`). The data files therefore also hold the two
    change columns as NULLs; reads never show them, because they scan
    with the recorded table schema.

    Schema evolution: changeset columns absent from the table are ADDED
    (existing rows read null), the Delta ``mergeSchema`` behavior — the
    drift-ALTER path of ``merge_generator.py``.

    Like Delta MERGE, a changeset with multiple rows per key is
    rejected (silently unioning both rows in would duplicate the key
    and mis-pair CDF pre/postimages): a per-key count rides the join's
    own shuffle, a ``DataFrame.observe`` on the write reports its
    maximum, and a duplicate raises ``ValueError`` before any staged
    file reaches the table. Pre-aggregate the changeset to one row per
    key before merging. The same observation counts the rows updated
    and inserted; the commit records them under ``metrics`` with the
    files and bytes added and removed."""
    for _ in range(max_retries):
        base_files, base_v, recorded = _snapshot(path)
        if base_v < 0:
            raise FileNotFoundError(f"merge target {path} has no commits")
        base = _scan(
            spark, path, base_files, _table_schema(spark, path, base_files, recorded)
        )
        plan, obs, schema = _merge_plan(base, changeset, keys, base_v + 1)
        names = _stage(
            plan, path, target_files, routed=True,
            verify=lambda: _reject_duplicate_keys(obs.get["dup"], keys),
        )
        adds = [n for n in names if not n.startswith("_cdf/")]
        cdf = [n for n in names if n.startswith("_cdf/")]
        observed = obs.get
        metrics = {
            "rows_updated": observed["updated"],
            "rows_inserted": observed["inserted"],
            "files_added": len(adds),
            "bytes_added": _bytes(path, adds),
            "files_removed": len(base_files),
            "bytes_removed": _bytes(path, base_files),
            "cdf_files_added": len(cdf),
            "cdf_bytes_added": _bytes(path, cdf),
        }
        try:
            _try_commit(
                path, base_v + 1,
                {"op": "MERGE", "add": adds, "remove": base_files, "cdf": cdf,
                 "schema": _record(schema),
                 "metrics": metrics, **(meta or {})},
            )
            return base_v + 1
        except CommitConflict:
            _discard(path, names)  # lost attempt's files are garbage
            continue
    raise CommitConflict(f"merge lost {max_retries} races on {path}")


def _merge_plan(base: DataFrame, changeset: DataFrame, keys: list[str], version: int):
    """The one-join MERGE plan → (rows to stage, observation, merged
    table schema).

    Staged row layout: route, ``_change_type``, ``_commit_version``,
    then the merged table's columns (snapshot columns, then the
    changeset's new ones, types as ``unionByName`` widens them). The
    changeset's per-key row count is a window on the join key, so it
    shares the join's exchange. The row images are one SQL expression:
    built column by column they cost ~2k Py4J calls per merge."""
    from pyspark.sql import Observation, Window
    from pyspark.sql import functions as F

    from azuredataengineering_deeplearning_spark.functions.strings import sql_ident

    table = base.unionByName(changeset, allowMissingColumns=True).schema
    # each side's columns renamed positionally: name → (column, type)
    sides = {
        side: {f.name: (f"__{side}{i}", f.dataType) for i, f in enumerate(df.schema)}
        for side, df in (("b", base), ("c", changeset))
    }
    b = base.toDF(*[n for n, _ in sides["b"].values()]).withColumn(
        "__in_b", F.lit(True)
    )
    c_keys = [F.col(sides["c"][k][0]) for k in keys]
    c = changeset.toDF(*[n for n, _ in sides["c"].values()]).withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy(*c_keys))
    )
    joined = b.join(
        c, [F.col(sides["b"][k][0]) == ck for k, ck in zip(keys, c_keys)], "full_outer"
    )
    obs = Observation()
    joined = joined.observe(
        obs,
        F.count_if(F.col("__in_b").isNotNull() & F.col("__n").isNotNull()).alias("updated"),
        F.count_if(F.col("__in_b").isNull() & F.col("__n").isNotNull()).alias("inserted"),
        F.max(
            F.when(
                F.col("__n").isNotNull(),
                F.struct(F.col("__n"), *[ck.alias(k) for k, ck in zip(keys, c_keys)]),
            )
        ).alias("dup"),
    )

    def image(side: str, change: str | None = None) -> str:
        """One staged row of ``side``: a data row, or with ``change`` (a
        SQL expression) a change row."""
        values = []
        for f in table.fields:
            col, typ = sides[side].get(f.name, ("NULL", None))
            if typ != f.dataType:
                col = f"CAST({col} AS {f.dataType.simpleString()})"
            values.append(f"{col} AS {sql_ident(f.name)}")
        route, cv = ("data", "NULL") if change is None else ("cdf", version)
        return (
            f"struct('{route}' AS {_ROUTE}, CAST({change or 'NULL'} AS STRING) AS "
            f"_change_type, CAST({cv} AS INT) AS _commit_version, {', '.join(values)})"
        )

    in_b, in_c = "__in_b IS NOT NULL", "__n IS NOT NULL"
    pre, post = "'update_preimage'", f"IF({in_b}, 'update_postimage', 'insert')"
    rows = [
        f"IF({in_c}, {image('c')}, {image('b')})",
        f"IF({in_b} AND {in_c}, {image('b', pre)}, NULL)",
        f"IF({in_c}, {image('c', post)}, NULL)",
    ]
    staged = joined.selectExpr(
        f"inline(filter(array({', '.join(rows)}), r -> r IS NOT NULL))"
    )
    return staged, obs, table


def _reject_duplicate_keys(dup, keys: list[str]) -> None:
    """``dup`` is the observed max (count, key...) over changeset rows."""
    if dup is not None and dup["__n"] > 1:
        key_vals = {k: dup[k] for k in keys}
        raise ValueError(
            f"merge changeset has multiple rows for key {key_vals}; "
            "MERGE requires at most one source row per key "
            "(deduplicate/pre-aggregate the changeset first)"
        )


def _bytes(path: str, names: list[str]) -> int:
    return sum(os.path.getsize(os.path.join(path, n)) for n in names)


def read_changes(
    spark: SparkSession,
    path: str,
    from_version: int = 0,
    to_version: int | None = None,
) -> DataFrame:
    """Change-data-feed read: the per-row changes recorded by MERGE
    commits in [from_version, to_version], each tagged with
    ``_change_type`` and ``_commit_version`` — the incremental feed a
    downstream table consumes instead of re-diffing snapshots. Change
    files are read with their commit's recorded schema (no Spark job
    before an action)."""
    from functools import reduce

    from pyspark.sql import functions as F

    parts = []
    for v in _versions(path):
        if v < from_version or (to_version is not None and v > to_version):
            continue
        c = _read_commit(path, v)
        schema = _struct(c.get("schema"))
        # a MERGE that changed no row writes no change file: empty part
        if c.get("cdf") or ("cdf" in c and schema is not None):
            if schema is not None:
                schema = schema.add("_change_type", "string")
            part = _scan(spark, path, c["cdf"], schema)
            # older CDF files predate the embedded stamp; either way the
            # authoritative version is the commit being replayed
            parts.append(part.withColumn("_commit_version", F.lit(v)))
    if not parts:
        raise FileNotFoundError(
            f"no change data in {path} for versions [{from_version}, {to_version}]"
        )
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
    )


def compact(
    spark: SparkSession,
    path: str,
    target_files: int = 1,
    stats_cols: list[str] | None = None,
    zorder_by: list | None = None,
) -> int:
    """OPTIMIZE-style compaction: rewrite the snapshot into
    ``target_files`` files in one commit (same rows, fewer files).
    Pass ``stats_cols`` to re-stat the compacted files — otherwise
    :func:`read_skipping` reads them conservatively. ``zorder_by``
    range-partitions + sorts the rewrite on those columns (OPTIMIZE
    ZORDER BY: narrows per-file min/max so ``stats_cols`` skipping
    prunes aggressively — pass both). A lost version race deletes the
    rewritten files and raises :class:`CommitConflict`."""
    files, v, recorded = _snapshot(path)
    if not files:
        raise FileNotFoundError(f"nothing to compact in {path}")
    schema = _table_schema(spark, path, files, recorded)
    df = _scan(spark, path, files, schema)
    if zorder_by:
        df = df.repartitionByRange(target_files, *zorder_by).sortWithinPartitions(
            *zorder_by
        )
    names = _stage(df, path, target_files)
    try:
        actions = {"op": "COMPACT", "add": names, "remove": files,
                   "schema": _record(schema)}
        if stats_cols:
            actions["stats"] = _collect_stats(spark, path, names, stats_cols, schema)
        _try_commit(path, v + 1, actions)
    except BaseException:
        _discard(path, names)  # e.g. a lost race: the rewrite is garbage
        raise
    return v + 1


def vacuum(
    path: str, dry_run: bool = True, orphan_retention_s: float = 3600.0
) -> list[str]:
    """Delete data files no longer referenced by ANY version's live set
    — i.e. files removed by some commit (old snapshots become
    unreadable for those versions, like Delta VACUUM with retention 0).
    ``dry_run=True`` (default) only reports.

    Files that were NEVER referenced by a commit are a different case:
    they may be a concurrent writer's staged-but-uncommitted data
    (``_stage`` renames into the table root before the version claim).
    Deleting those would corrupt that writer's imminent commit, so
    never-referenced files are vacuumed only when older than
    ``orphan_retention_s`` (mtime) — the Delta retention-window guard."""
    live, _ = snapshot_files(path)
    keep = set(live)
    ever_referenced: set[str] = set()
    for v in _versions(path):  # CDF files stay readable after vacuum
        c = _read_commit(path, v)
        keep |= set(c.get("cdf", []))
        ever_referenced |= set(c.get("add", []))
    now = time.time()
    victims = []
    for f in os.listdir(path):
        # _cdf/ files are commit-referenced via their subdir path and
        # never candidates here (top-level listing only)
        if not (f.startswith("data_") and f.endswith(".parquet")):
            continue
        if f in keep:
            continue
        if f not in ever_referenced:
            try:
                age = now - os.path.getmtime(os.path.join(path, f))
            except OSError:
                continue  # racing writer claimed/renamed it — leave alone
            if age < orphan_retention_s:
                continue  # possibly another writer's in-flight staging
        victims.append(f)
    if not dry_run:
        for f in victims:
            os.remove(os.path.join(path, f))
    return sorted(victims)


def _stat_encode(v, side: str | None = None):
    """Make a min/max stat value JSON-serializable while preserving
    ORDER, so skipping comparisons on the decoded values stay correct:

    - int/float/str/bool/None pass through;
    - datetime/date → ISO-8601 string (lexicographic == chronological);
    - Decimal → float, widened one ULP outward (``side`` 'lo' rounds
      down, 'hi' rounds up) so float rounding can only make skipping
      MORE conservative, never prune a file that matches.

    Query bounds go through the same encoding (``side=None``, no
    widening) before comparing against stored stats."""
    import datetime as _dt
    import decimal as _dec
    import math as _math

    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, _dec.Decimal):
        f = float(v)
        if side == "lo":
            return _math.nextafter(f, -_math.inf)
        if side == "hi":
            return _math.nextafter(f, _math.inf)
        return f
    return str(v)


def _collect_stats(
    spark: SparkSession,
    path: str,
    names: list[str],
    stats_cols: list[str],
    schema: StructType,
) -> dict:
    """Per-file min/max for ``stats_cols`` — ONE job over the staged
    files grouped by ``input_file_name`` (no per-file driver loop).
    Values are encoded JSON-safe (date/timestamp/decimal columns would
    otherwise make ``json.dump`` raise AFTER staging, leaking orphaned
    data files with no commit). ``schema`` is the staged frame's, so the
    scan needs no footer job."""
    from pyspark.sql import functions as F

    df = _scan(spark, path, names, schema)
    agg = (
        df.withColumn("__f", F.input_file_name())
        .groupBy("__f")
        .agg(
            *[F.min(c).alias(f"lo_{c}") for c in stats_cols],
            *[F.max(c).alias(f"hi_{c}") for c in stats_cols],
        )
        .collect()
    )
    out = {}
    for r in agg:
        fname = os.path.basename(r["__f"])
        out[fname] = {
            c: [
                _stat_encode(r[f"lo_{c}"], "lo"),
                _stat_encode(r[f"hi_{c}"], "hi"),
            ]
            for c in stats_cols
        }
    return out


def append_with_stats(
    df: DataFrame,
    path: str,
    stats_cols: list[str],
    target_files: int | None = None,
) -> int:
    """Append whose commit records per-file min/max for ``stats_cols``
    — the Delta file-statistics analog that powers
    :func:`read_skipping`. Stage once, stat in one job, commit."""
    os.makedirs(path, exist_ok=True)
    names = _stage(df, path, target_files)
    return _blind_commit(df, path, names, "APPEND", replace=False, stats_cols=stats_cols)


def read_skipping(
    spark: SparkSession,
    path: str,
    column: str,
    lo,
    hi,
    version: int | None = None,
) -> tuple[DataFrame, dict]:
    """Stats-pruned snapshot read: scan ONLY files whose recorded
    [min, max] for ``column`` overlaps [lo, hi] (files without stats
    are conservatively read). Returns (DataFrame already filtered to
    the range, {"scanned": n, "skipped": n}) so callers can assert the
    pruning actually happened. The log replay merges each live file's
    newest stats entry."""
    from pyspark.sql import functions as F

    live, _, recorded = _snapshot(path, version)
    stats = _replay_stats(path, version)
    q_lo, q_hi = _stat_encode(lo), _stat_encode(hi)
    keep, skipped = [], 0
    for f in live:
        s = stats.get(f, {}).get(column)
        if s is None:
            keep.append(f)
            continue
        f_lo, f_hi = s
        if f_lo is None or f_hi is None or (f_lo <= q_hi and f_hi >= q_lo):
            keep.append(f)
        else:
            skipped += 1
    if not keep:
        empty = read(spark, path, version).filter(F.lit(False))
        return empty, {"scanned": 0, "skipped": skipped}
    df = _scan(spark, path, keep, _struct(recorded)).filter(
        F.col(column).between(lo, hi)
    )
    return df, {"scanned": len(keep), "skipped": skipped}


def stream_changes(spark: SparkSession, path: str, schema) -> DataFrame:
    """Native incremental CDF consumption: tail the table's ``_cdf/``
    directory as a Structured Streaming file source — each MERGE's
    change file becomes a micro-batch for downstream incremental
    tables (silver→gold without re-diffing snapshots). Pass the change
    schema explicitly (base columns + ``_change_type string``).

    Delivery note: a merge that loses its commit race deletes its
    staged change file, but a tailing reader may have already consumed
    it — treat this stream as at-least-once and key downstream merges
    idempotently (the same caveat Delta solves with commit-atomic CDF)."""
    return spark.readStream.schema(schema).parquet(os.path.join(path, "_cdf"))


def read_skipping_multi(
    spark: SparkSession,
    path: str,
    ranges: dict,
    version: int | None = None,
) -> tuple[DataFrame, dict]:
    """Multi-predicate skipping read: keep files whose recorded
    [min, max] overlaps EVERY ``{column: (lo, hi)}`` range (missing
    stats on any column → conservatively kept), filter the survivors to
    all ranges. Same contract as :func:`read_skipping`, conjunctive."""
    from pyspark.sql import functions as F

    live, _, recorded = _snapshot(path, version)
    stats = _replay_stats(path, version)
    enc_ranges = {
        col: (_stat_encode(lo), _stat_encode(hi))
        for col, (lo, hi) in ranges.items()
    }
    keep, skipped = [], 0
    for f in live:
        fs = stats.get(f, {})
        drop = False
        for col, (q_lo, q_hi) in enc_ranges.items():
            s = fs.get(col)
            if s is None or s[0] is None or s[1] is None:
                continue  # no stats → cannot exclude on this column
            if s[0] > q_hi or s[1] < q_lo:
                drop = True
                break
        if drop:
            skipped += 1
        else:
            keep.append(f)
    if not keep:
        empty = read(spark, path, version).filter(F.lit(False))
        return empty, {"scanned": 0, "skipped": skipped}
    df = _scan(spark, path, keep, _struct(recorded))
    for col, (lo, hi) in ranges.items():
        df = df.filter(F.col(col).between(lo, hi))
    return df, {"scanned": len(keep), "skipped": skipped}


def clone(
    spark: SparkSession,
    src: str,
    dst: str,
    version: int | None = None,
    deep: bool = True,
) -> int:
    """DEEP / SHALLOW CLONE of a table snapshot — the executable form
    of the Databricks clone the DDL generator only scripts
    (``sources.ddl.deep_clone_ddl``; reference pattern
    ``AIO_delta_table_generator.py``). ``deep=True`` copies the
    snapshot's data files byte-for-byte into ``dst`` and commits them
    as version 1 there (dev/stage refreshes survive a source VACUUM);
    ``deep=False`` commits ABSOLUTE paths pointing at the source files
    — zero copy, created instantly, valid until the source vacuums
    (exactly Delta's shallow-clone contract, and documented as such).
    Either way the clone is a normal table: it diverges independently
    from the moment it exists. Returns the committed version (0)."""
    import shutil

    files, v, schema = _snapshot(src, version)
    if not files:
        raise FileNotFoundError(f"no committed data in {src} at {version}")
    if os.path.isdir(_log_dir(dst)) and _versions(dst):
        raise FileExistsError(f"clone target {dst} already has commits")
    os.makedirs(dst, exist_ok=True)
    if deep:
        names = []
        for f in files:
            name = f"clone_{v}_{os.path.basename(f)}"
            shutil.copyfile(os.path.join(src, f), os.path.join(dst, name))
            names.append(name)
    else:
        names = [os.path.abspath(os.path.join(src, f)) for f in files]
    _try_commit(
        dst, 0,
        {"op": "CLONE", "add": names, "schema": schema,
         "source": os.path.abspath(src), "source_version": v,
         "deep": deep},
    )
    return 0


def restore(path: str, version: int) -> int:
    """RESTORE the table to an earlier snapshot as a NEW commit (Delta
    RESTORE semantics): the current file set is removed and the target
    version's files re-added, so history is preserved — the rollback
    itself is time-travelable, and nothing is deleted (the rolled-back
    files remain reachable for readers of intermediate versions until
    VACUUM). Returns the new version."""
    target_files, tv, schema = _snapshot(path, version)
    if tv != version:
        raise FileNotFoundError(f"version {version} not found in {path}")
    current, cv = snapshot_files(path)
    _try_commit(
        path, cv + 1,
        {"op": "RESTORE", "add": target_files, "remove": current,
         "schema": schema, "restored_version": version},
    )
    return cv + 1
