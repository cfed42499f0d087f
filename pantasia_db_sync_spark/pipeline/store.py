"""Versioned parquet table store with atomic repoint + snapshot/restore.

Replaces the reference's two write-side mechanisms:

- transactional batch commit (``conn.commit()`` per period,
  /root/reference/app/main.py:379): each table write lands in a new
  ``v{n}`` directory and becomes visible only when the tiny ``_VERSION``
  pointer file is atomically replaced — readers never see partial data,
  and a crashed commit leaves the previous version intact;
- ``pg_dump``/``pg_restore`` + rename swap
  (``scripts/backup_restore.py:53-208``): ``snapshot()`` records the
  current version pointers under a tag, ``restore()`` repoints to them —
  no data copying, O(#tables) metadata ops even at 100 TB.

Multi-table atomicity (SURVEY.md §4 item 2): a sync period stages every
table first (``stage`` for dims, ``append`` for fact commit dirs), then
flips the pointers. The sync tip is derived from the committed fact
rows, not stored, so a crash before the fact flips replays the period
idempotently, and a crash between them is rolled forward from the
commit manifests (``SyncEngine._recover_fact_commits``).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
import time as _time
from collections.abc import Iterator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from ..durable import fsync_path, read_json, write_atomic
from ..operators.ckpt import freeze, scope

MANIFEST = "_MANIFEST.json"  # hidden from Spark's file listing (leading _)


def _enc(v):
    """JSON-encode a footer stat value, tagging temporals for round-trip."""
    if isinstance(v, _dt.datetime):
        return {"__ts__": v.isoformat()}
    if isinstance(v, _dt.date):
        return {"__date__": v.isoformat()}
    return v


def _dec(v):
    if isinstance(v, dict):
        if "__ts__" in v:
            return _dt.datetime.fromisoformat(v["__ts__"])
        if "__date__" in v:
            return _dt.date.fromisoformat(v["__date__"])
    return v


def _map_stats(stats: dict, f) -> dict:
    """``{col: {"min", "max"}}`` with ``f`` (``_enc``/``_dec``) applied
    to every bound."""
    return {c: {"min": f(s["min"]), "max": f(s["max"])} for c, s in stats.items()}


def _union(parts, allow_missing: bool = False) -> DataFrame:
    """Left-deep ``unionByName`` of ``parts`` in order."""
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=allow_missing), parts
    )


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and map value nullable: the form
    Spark gives a parquet file's schema on read, whatever was written."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def footer_stats(path: str) -> dict:
    """Row count + per-column min/max for one parquet directory, read from
    file FOOTERS only — no data pages are touched, so this is O(#files)
    metadata I/O regardless of data volume.

    Only numeric / temporal / boolean columns are recorded: parquet may
    TRUNCATE binary (string) min/max statistics, so folding string stats
    across commits could silently produce a wrong max. The sync probes
    need ``id`` (int64) and ``tx_time`` (timestamp), both exact.
    """
    import pyarrow.parquet as pq

    safe = (int, float, bool, _dt.datetime, _dt.date)

    def norm(v):
        # parquet stores timestamps UTC-adjusted; Spark surfaces them as
        # naive SESSION-timezone datetimes, and this repo pins the
        # session to UTC (session.py) — so normalize to naive UTC. The
        # former bare astimezone() rendered host-LOCAL time: on any
        # non-UTC host every manifest timestamp shifted by the UTC
        # offset, making pantasia_tip overshoot (skipped periods — data
        # loss) or undershoot (re-appended periods — duplicates).
        if isinstance(v, _dt.datetime) and v.tzinfo is not None:
            return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v

    rows, nbytes, stats = 0, 0, {}
    total_rg, covered_rg = 0, {}
    files = []
    for fn in sorted(os.listdir(path)):
        fp = os.path.join(path, fn)
        if not fn.endswith(".parquet") or fn.startswith(("_", ".")):
            continue
        nbytes += os.path.getsize(fp)
        md = pq.ParquetFile(fp).metadata
        rows += md.num_rows
        f_stats, f_covered = {}, {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            total_rg += 1
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                st = col.statistics
                if "." in name or st is None or not st.has_min_max:
                    continue
                mn, mx = norm(st.min), norm(st.max)
                if not (isinstance(mn, safe) and isinstance(mx, safe)):
                    continue
                covered_rg[name] = covered_rg.get(name, 0) + 1
                f_covered[name] = f_covered.get(name, 0) + 1
                cur = stats.get(name)
                if cur is None:
                    stats[name] = {"min": mn, "max": mx}
                else:
                    cur["min"] = min(cur["min"], mn)
                    cur["max"] = max(cur["max"], mx)
                fc = f_stats.get(name)
                if fc is None:
                    f_stats[name] = {"min": mn, "max": mx}
                else:
                    fc["min"] = min(fc["min"], mn)
                    fc["max"] = max(fc["max"], mx)
        # Per-FILE stats obey the same coverage rule per file: a column
        # is recorded only if every row group in THIS file carries
        # min/max — a partial fold could understate a range and prune a
        # file that holds matching rows (silent data loss on reads).
        f_stats = {
            c: s
            for c, s in f_stats.items()
            if f_covered.get(c, 0) == md.num_row_groups
        }
        files.append({"name": fn, "rows": md.num_rows, "stats": f_stats})
    # A folded stat is only trustworthy if EVERY row group recorded it:
    # parquet writers may omit min/max per row group (e.g. legacy INT96
    # timestamps), and a partially-covered fold would understate the max
    # with no signal — the exact duplicate-append bug the scan fallback
    # in sync._facts_max_or_scan exists to prevent. Dropping the column
    # here makes that fallback actually fire on mixed histories.
    stats = {c: s for c, s in stats.items() if covered_rg.get(c, 0) == total_rg}
    return {"rows": rows, "bytes": nbytes, "stats": stats, "files": files}


class TableStore:
    def __init__(self, base_dir: str) -> None:
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)
        # finish any compaction or branch promotion interrupted by a
        # crash (both idempotent journal replays)
        self._recover_promote()
        for t in os.listdir(base_dir):
            if os.path.isdir(self._tdir(t)):
                self._recover_compaction(t)

    # --- version bookkeeping -------------------------------------------------

    def _tdir(self, table: str) -> str:
        return os.path.join(self.base_dir, table)

    def _pointer(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_VERSION")

    def current_version(self, table: str) -> int | None:
        try:
            with open(self._pointer(table)) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def _data_dir(self, table: str, version: int) -> str:
        return os.path.join(self._tdir(table), f"v{version}")

    # --- zero-copy branches ----------------------------------------------------
    # A branch is METADATA: {"source": <table>, "base": <source pointer
    # at branch time>}. Reads resolve shared history (fact commits and
    # dim versions ≤ base) from the SOURCE's directories; writes land
    # only under the branch's own dir. Nothing is copied at creation —
    # O(1) regardless of table size, the Iceberg-branch / Delta
    # shallow-clone workflow (test a pipeline change against production
    # history, then throw the branch away). The source keeps evolving
    # independently; commits it adds after `base` are invisible to the
    # branch. `vacuum` and `compact_facts` treat every branch base as a
    # protected watermark so shared history can neither be reclaimed
    # nor merged across the branch point.

    def _branch_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_BRANCH.json")

    def branch_info(self, table: str) -> dict | None:
        # NotADirectoryError: callers iterate os.listdir(base_dir),
        # where snapshot tags are plain _SNAPSHOT_<tag>.json FILES —
        # opening '<file>/_BRANCH.json' must read as "not a branch",
        # not crash (rollback_facts on any store with a snapshot).
        try:
            return read_json(self._branch_path(table))
        except (FileNotFoundError, NotADirectoryError, json.JSONDecodeError):
            return None

    def create_branch(self, source: str, branch: str) -> dict:
        """Create zero-copy ``branch`` from ``source``'s current state.
        One level only (branching a branch would chain read resolution
        through every ancestor — refuse rather than silently slow)."""
        if self.branch_info(source) is not None:
            raise ValueError(
                f"cannot branch {source!r}: it is itself a branch "
                "(one level of branching is supported)"
            )
        base = self.current_version(source)
        if base is None:
            raise ValueError(f"{source!r} has no committed version to branch")
        if (
            self.current_version(branch) is not None
            or self.branch_info(branch) is not None
        ):
            raise ValueError(f"{branch!r} already exists")
        os.makedirs(self._tdir(branch), exist_ok=True)
        meta = {"source": source, "base": base}
        write_atomic(self._branch_path(branch), meta)
        self.repoint(branch, base)
        return meta

    def _resolve_version_dir(self, table: str, version: int) -> str:
        """Versioned-dim dir for ``table``: the branch's own dir if it
        staged that version locally, else the source's (shared,
        un-copied history)."""
        path = self._data_dir(table, version)
        if os.path.isdir(path):
            return path
        br = self.branch_info(table)
        if br is not None:
            return self._data_dir(br["source"], version)
        return path

    def _promote_journal_path(self) -> str:
        return os.path.join(self.base_dir, "_PROMOTE_JOURNAL.json")

    def _apply_promote(self, journal: dict) -> None:
        """Idempotent journal application — every step checks whether a
        prior (crashed) run already did it, so recovery can simply
        re-apply from the top."""
        for frm, to in journal["moves"]:
            if os.path.isdir(frm):
                if os.path.isdir(to):
                    # destination can only be an aborted-commit orphan
                    # above the source pointer (never committed data:
                    # ids > base were unreachable on the source) — safe
                    # to clear before the move
                    shutil.rmtree(to)
                os.makedirs(os.path.dirname(to), exist_ok=True)
                os.replace(frm, to)
        self.repoint(journal["source"], journal["repoint"])
        if os.path.isdir(self._tdir(journal["branch"])):
            shutil.rmtree(self._tdir(journal["branch"]))
        os.remove(self._promote_journal_path())

    def _recover_promote(self) -> None:
        jp = self._promote_journal_path()
        if os.path.exists(jp):
            self._apply_promote(read_json(jp))

    def promote_branch(self, branch: str) -> None:
        """FAST-FORWARD the source to the branch's state and delete the
        branch. Allowed only when the source has not moved since the
        branch was created (current pointer == base) — with divergence
        there is no merge semantics to offer, so refuse loudly. The
        branch's committed fact dirs and locally-staged dim versions
        are renamed into the source (ids > the source pointer stay
        invisible until the final repoint — the stage-then-flip
        discipline), driven by a journal that TableStore.__init__
        re-applies idempotently after a crash at any step. Uncommitted
        branch work above its pointer is discarded with the branch.
        Snapshots that recorded the branch's name do not survive its
        promotion (same class as dropping a table)."""
        br = self.branch_info(branch)
        if br is None:
            raise ValueError(f"{branch!r} is not a branch")
        source, base = br["source"], br["base"]
        if self.current_version(source) != base:
            raise ValueError(
                f"cannot promote {branch!r}: source {source!r} moved from "
                f"base {base} to {self.current_version(source)} — "
                "fast-forward only"
            )
        bptr = self.current_version(branch)
        moves = [
            [d, os.path.join(self._tdir(source), sub, os.path.basename(d))]
            for sub in ("data", "deletes")
            for _, _, d in self._commit_dirs(branch, sub, bptr, lo=base, shared=False)
        ]
        for d in os.listdir(self._tdir(branch)):
            if d.startswith("v") and d[1:].isdigit() and base < int(d[1:]) <= bptr:
                moves.append(
                    [
                        os.path.join(self._tdir(branch), d),
                        os.path.join(self._tdir(source), d),
                    ]
                )
        journal = {
            "branch": branch,
            "source": source,
            "moves": moves,
            "repoint": bptr,
        }
        write_atomic(self._promote_journal_path(), journal)
        self._apply_promote(journal)

    # --- read / write --------------------------------------------------------

    def read(self, spark: SparkSession, table: str) -> DataFrame | None:
        v = self.current_version(table)
        if v is None:
            return None
        return self._read_version(spark, self._resolve_version_dir(table, v))

    def _read_version(self, spark: SparkSession, path: str) -> DataFrame:
        """A version dir's rows. Its manifest's schema (written by the
        version writers) is passed on, so the read launches no
        schema-inference job; a manifest without one falls back to
        inference."""
        schema = self._read_manifest(path).get("schema")
        if schema is None:
            return spark.read.parquet(path)
        return spark.read.schema(StructType.fromJson(schema)).parquet(path)

    def stage(self, table: str, df: DataFrame) -> int:
        """Write a new version directory without repointing.
        Single-writer contract: picks head+1 unfenced — a concurrent
        writer stages inside ``commit_many_occ``, whose claim on the
        table makes head+1 the claimed id."""
        v = (self.current_version(table) or 0) + 1
        path = self._data_dir(table, v)
        if os.path.exists(path):
            shutil.rmtree(path)
        df.write.mode("overwrite").parquet(path)
        self._write_manifest(path, df.schema)
        return v

    def repoint(self, table: str, version: int) -> None:
        self._flip_pointer(table, version)
        self._log_commit_ts(table, version)

    def _flip_pointer(self, table: str, version: int) -> None:
        """The atomic pointer replace alone — the moment a commit
        becomes visible. On return the pointer survives power loss:
        ``write_atomic`` fsyncs the new pointer file before the rename
        and the table dir after it (which also makes the table dir's
        ``v<n>``/``data``/``deletes`` entries durable). The data the
        pointer names is durable because its writer fsynced it first:
        ``_write_manifest`` syncs a commit's or version's files, its
        manifest and the dir entry before any flip. Not covered: the
        table dir's own entry in ``base_dir`` (created once, at the
        first write) and the ``_COMMITS.jsonl`` append.

        Split from the timestamp-log append so multi-table committers
        (commit_many_occ) can record the flip as done the instant it
        is: a log-append failure after the replace must not make the
        caller release a claim whose commit is already visible
        (re-staging it would duplicate data)."""
        os.makedirs(self._tdir(table), exist_ok=True)
        write_atomic(self._pointer(table), int(version))

    def _log_commit_ts(self, table: str, version: int) -> None:
        # commit-time log for TIMESTAMP AS OF (see read_facts_at_time):
        # appended AFTER the flip so the log never claims an exposure
        # that didn't happen; a crash between the two loses one line,
        # which the resolver treats conservatively
        with open(self._commit_log_path(table), "a") as f:
            f.write(
                json.dumps(
                    {
                        "version": version,
                        "ts": _dt.datetime.now(_dt.timezone.utc)
                        .replace(tzinfo=None)
                        .isoformat(),
                    }
                )
                + "\n"
            )

    def rollback_facts(self, table: str, commit_id: int) -> None:
        """Delta's ``RESTORE TABLE ... TO VERSION AS OF`` for a fact
        table: repoint to an EARLIER commit id without touching any
        data — commits above it become invisible to reads (appends and
        tombstones alike, they gate on the same pointer) and their
        dirs remain on disk as orphans until either re-commit under
        the same ids (the crash-replay path) or ``vacuum``. O(1)
        metadata; no snapshot tag needed, unlike :meth:`restore`.

        Guards: the target must not exceed the current pointer (a
        forward 'rollback' would expose staged-but-never-committed
        dirs), and a table that has branches may not roll below any
        branch base (shared history ≤ base belongs to the branches —
        the same watermark ``vacuum`` and ``compact_facts`` protect)."""
        ptr = self.current_version(table)
        if ptr is None:
            raise ValueError(f"rollback_facts: {table!r} has no commits")
        if commit_id > ptr:
            raise ValueError(
                f"rollback_facts: target {commit_id} is above the current "
                f"pointer {ptr} (would expose uncommitted staged dirs)"
            )
        bases = self._pins(snapshots=False).get(table)
        if bases and commit_id < max(bases):
            raise ValueError(
                f"rollback_facts: a branch holds base {max(bases)} on "
                f"{table!r}; cannot roll below it"
            )
        self.repoint(table, commit_id)

    # --- append-only fact tables ---------------------------------------------
    # Facts never rewrite history: each period commit adds one
    # commit={id} partition; the pointer names the highest committed id,
    # so readers filter out partial writes and a failed commit is simply
    # re-written in place. At 100 TB this is O(new data) per period,
    # while the versioned dims above stay O(dim size) (they are small).

    def append_dir(self, table: str, commit_id: int) -> str:
        return os.path.join(self._tdir(table), "data", f"commit={commit_id}")

    # --- write-time CHECK constraints ----------------------------------------
    # Delta-style table constraints (ALTER TABLE ... ADD CONSTRAINT ...
    # CHECK): a named SQL boolean expression every STAGED row must
    # satisfy. Validation costs ZERO extra passes — the predicates ride
    # the staging write itself as `Observation` metrics (Spark
    # accumulators folded during the one materialization the append
    # already pays), and a violation rolls the staged dir back before
    # any pointer flip, so the table is never left half-constrained.
    # SQL CHECK semantics: a row violates only when the expression is
    # FALSE; NULL (unknown) passes — same as Delta/Postgres.

    def _constraints_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_CONSTRAINTS.json")

    def check_constraints(self, table: str) -> dict[str, str]:
        try:
            return read_json(self._constraints_path(table))
        except FileNotFoundError:
            return {}

    def set_check_constraint(self, table: str, name: str, expr: str) -> None:
        """Add/replace the named CHECK constraint. Applies to FUTURE
        appends only (Delta's behavior requires existing rows to pass;
        here the caller can assert that with one read — documented
        trade, history is immutable anyway)."""
        os.makedirs(self._tdir(table), exist_ok=True)
        cons = self.check_constraints(table)
        cons[name] = expr
        write_atomic(self._constraints_path(table), cons)

    def drop_check_constraint(self, table: str, name: str) -> None:
        cons = self.check_constraints(table)
        cons.pop(name, None)
        write_atomic(self._constraints_path(table), cons)

    @scope()  # owns the cluster_by freeze, read only by the write below
    def append(
        self,
        table: str,
        df: DataFrame,
        commit_id: int,
        cluster_by: str | list[str] | None = None,
        cluster_partitions: int | None = None,
    ) -> None:
        """``cluster_by``: a column name → sort-on-write range layout;
        a LIST of columns → Z-ORDER layout (operators/zorder.py):
        Morton-interleaved range partitioning, so range predicates on
        ANY listed column prune files via ordinary footer stats."""
        br = self.branch_info(table)
        if br is not None and commit_id <= br["base"]:
            raise ValueError(
                f"branch {table!r} append commit_id={commit_id} must exceed "
                f"the branch base {br['base']} (shared history below the "
                "base is the source's, read-only)"
            )
        path = self.append_dir(table, commit_id)
        if cluster_by is not None:
            # Sort-on-write clustering: files within the commit become
            # disjoint ranges of ``cluster_by`` (repartitionByRange) and
            # rows inside each file are ordered (sortWithinPartitions),
            # so parquet footer min/max stats are TIGHT — the scan-side
            # row-group pruning that makes `read_facts_pruned`'s
            # commit-level manifest pruning carry through to the page
            # level. Costs one range shuffle of the new period's rows
            # (O(new data), never history); appends that arrive already
            # time-ordered pay almost nothing for it. Without an
            # explicit ``cluster_partitions`` AQE right-sizes the range
            # partitions (small periods coalesce to few files).
            #
            # Freeze BEFORE the range shuffle: repartitionByRange runs a
            # boundary-sampling job, and the z-order path a min/max
            # probe, each re-executing the child plan. The checkpoint
            # runs the caller's plan once (so a caller's `.observe()`
            # metrics also fire once); the sampler and the probe then
            # read frozen blocks.
            df = freeze(df)
            if isinstance(cluster_by, (list, tuple)):
                from ..operators.zorder import zorder_frame

                df = zorder_frame(df, list(cluster_by), cluster_partitions)
            else:
                if cluster_partitions is not None:
                    df = df.repartitionByRange(cluster_partitions, cluster_by)
                else:
                    df = df.repartitionByRange(cluster_by)
                df = df.sortWithinPartitions(cluster_by)
        cons = self.check_constraints(table)
        obs = None
        if cons:
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            obs = Observation()
            df = df.observe(
                obs,
                *[
                    F.sum(F.when(~F.expr(e), 1).otherwise(0))
                    .cast("long")
                    .alias(n)
                    for n, e in sorted(cons.items())
                ],
            )
        df.write.mode("overwrite").parquet(path)
        if obs is not None:
            bad = {n: v for n, v in obs.get.items() if v is not None and v > 0}
            if bad:
                # roll back the staged dir BEFORE any pointer flip —
                # the table stays exactly at its previous version
                shutil.rmtree(path, ignore_errors=True)
                raise ValueError(
                    f"append to {table!r} commit {commit_id} violates CHECK "
                    f"constraint(s) {bad} (violating-row counts); staged "
                    "data rolled back"
                )
        # Manifest lands INSIDE the commit dir before the pointer flip,
        # so it shares the commit's crash semantics: a commit either
        # exposes data+manifest together or neither. At 100 TB this is
        # what turns the sink-tip / seed probes (pantasia_tip, _seed in
        # pipeline/sync.py) from full fact-history column scans — the
        # reference's O(1)-because-Postgres-index probes,
        # /root/reference/app/db/postgres.py:251-312 — into O(#commits)
        # footer-manifest folds that scan ZERO fact rows.
        self._write_manifest(path)

    def commit_append(self, table: str, commit_id: int) -> None:
        self.repoint(table, commit_id)

    # --- optimistic concurrency (writer fence) --------------------------------
    # The explicit-commit-id APIs above (append/commit_append/stage/
    # repoint) assume a SINGLE WRITER PER BRANCH — the reference is
    # a single daemon, and pipeline/sync.py drives exactly one writer.
    # Two uncoordinated processes using them can both stage commit N+1
    # and the second pointer flip silently discards the first (the
    # classic lost update). The fence below is the Delta/Iceberg
    # optimistic-concurrency answer on this store's layout: a writer
    # CLAIMS the next commit id atomically (os.open(O_CREAT|O_EXCL) on
    # claims/<id> — the POSIX mutual-exclusion primitive; on an object
    # store this slot would be a conditional PUT) BEFORE staging any
    # data, so at most one writer ever stages a given id; a loser
    # re-reads the pointer and retries against the new head once the
    # holder flips. Claims carry the holder's pid: a claim whose pid is
    # dead (crash between claim and flip) is STOLEN — under a per-table
    # flock so exactly one contender can steal (the kernel releases
    # flock on process death, so the fence itself cannot wedge) — which
    # is precisely the crash-replay path (the dead writer's partial
    # staged dir is re-staged under the same id). A dead pid whose
    # commit ALREADY flipped (committed-then-exited) is NOT re-staged:
    # begin_commit re-verifies head < cid after every successful claim.
    # Same-host liveness via kill(pid, 0) is the documented scope of
    # the pid check; cross-host deployments need a lease timestamp
    # instead.

    def _claims_dir(self, table: str) -> str:
        return os.path.join(self._tdir(table), "claims")

    def _claims_lock(self, table: str) -> int:
        """flock-ed fd guarding the claim/steal critical section of one
        table. flock is the right primitive here: the kernel releases
        it when the holding process dies, so — unlike a lock FILE — a
        crashed stealer can never wedge the fence, and the steal path
        needs no recursive stale-lock handling. Caller closes the fd
        (closing releases the lock)."""
        import fcntl

        d = self._claims_dir(table)
        os.makedirs(d, exist_ok=True)
        fd = os.open(os.path.join(d, "_LOCK"), os.O_CREAT | os.O_RDWR)
        fcntl.flock(fd, fcntl.LOCK_EX)
        return fd

    def claim_commit(self, table: str, commit_id: int) -> bool:
        """Atomically claim ``commit_id``: True iff this process now
        holds the exclusive right to stage and flip that id. The check
        / steal-if-holder-dead / create sequence runs under a per-table
        flock, so exactly one contender can ever steal a dead holder's
        claim — a bare os.replace race would let two stealers both
        'win' (the second replace succeeds against the first stealer's
        FRESH claim), recreating the lost update the fence exists to
        prevent."""
        path = os.path.join(self._claims_dir(table), str(commit_id))
        lock = self._claims_lock(table)
        try:
            try:
                with open(path) as f:
                    pid = int(f.read().strip() or "0")
            except FileNotFoundError:
                pid = None
            except ValueError:
                pid = 0
            if pid is not None:
                if pid > 0:
                    try:
                        os.kill(pid, 0)
                        return False  # holder alive
                    except ProcessLookupError:
                        pass  # holder dead: steal below (we hold the lock)
                    except PermissionError:
                        return False  # alive, different user
                # pid == 0 (empty/unparseable claim): claims are created
                # AND read under this same per-table flock, so a claim can
                # never be observed mid-write — an unreadable claim means
                # its writer died between O_CREAT|O_EXCL and the pid write.
                # Treat it as dead and steal; returning False here would
                # wedge every writer on the table forever (no live pid can
                # ever release it). Under the flock, unlink-then-create
                # is as exclusive as a rename would be.
                os.unlink(path)
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, str(os.getpid()).encode())
            os.close(fd)
            return True
        finally:
            os.close(lock)  # releases the flock

    def release_claim(self, table: str, commit_id: int) -> None:
        """Release a claim this process holds but will never flip (the
        staging attempt failed). Runs under the same per-table flock as
        claim/steal so a concurrent contender never observes a
        half-released claim. Idempotent: releasing a claim that was
        already stolen or never existed is a no-op."""
        path = os.path.join(self._claims_dir(table), str(commit_id))
        lock = self._claims_lock(table)
        try:
            try:
                os.unlink(path)
            except FileNotFoundError:
                pass
        finally:
            os.close(lock)

    def begin_commit(
        self, table: str, timeout_sec: float = 120.0, poll_sec: float = 0.02
    ) -> int:
        """Claim the next commit id above the current head, spinning
        while a live concurrent writer holds it (the holder's flip
        advances the head; a dead holder's claim is stolen). Returns
        the claimed id — the caller stages under it and flips with
        ``commit_append``; no other writer can stage the same id.

        A successful claim is RE-VERIFIED against the pointer before
        being returned: a claim file whose holder committed and then
        exited looks exactly like a crashed holder's (dead pid), but
        its commit id is ALREADY DURABLE — stealing it and re-staging
        would overwrite committed data and could move the pointer
        backward. If the head has reached the claimed id, the claim is
        abandoned and the loop re-reads the new head."""
        deadline = _time.monotonic() + timeout_sec
        while True:
            head = self.current_version(table) or 0
            cid = head + 1
            if self.claim_commit(table, cid):
                if (self.current_version(table) or 0) < cid:
                    return cid
                # the previous holder committed cid and exited between
                # our head read and the claim — cid is durable, move on
            if _time.monotonic() > deadline:
                raise TimeoutError(
                    f"begin_commit({table!r}): commit {cid} held by a live "
                    f"writer for > {timeout_sec}s"
                )
            _time.sleep(poll_sec)

    def append_occ(self, table: str, df: DataFrame, **kwargs) -> int:
        """Concurrent-writer-safe append: claim → stage → flip. Returns
        the commit id that landed. Unlike raw ``append`` +
        ``commit_append`` (single-writer contract), any number of
        processes may call this on the same table; each commit lands
        under its own claimed id and NO staged commit is ever silently
        discarded (tests/test_store_manifest.py two-writer race).

        If staging raises after the claim (CHECK-constraint rollback,
        a failed write), the claim is RELEASED before re-raising: a
        claim holding a live pid but no forthcoming flip would make
        every subsequent begin_commit on the table spin to TimeoutError
        for the rest of this process's lifetime."""
        cid = self.begin_commit(table)
        flipped = False
        try:
            self.append(table, df, commit_id=cid, **kwargs)
            self._flip_pointer(table, cid)
            flipped = True  # durable from here: never release the claim
            self._log_commit_ts(table, cid)
        except BaseException:
            if not flipped:
                self.release_claim(table, cid)
            raise
        return cid

    def begin_commit_many(
        self,
        tables,
        timeout_sec: float = 120.0,
        poll_sec: float = 0.02,
    ) -> dict[str, int]:
        """Claim the next commit id on EVERY table, acquiring claims in
        sorted-table-name order so two multi-table writers whose table
        sets overlap can never deadlock (both walk the shared tables in
        the same global order; whoever claims the first shared table
        first finishes it before the other can proceed past it). If any
        claim times out, every already-held claim is released before
        re-raising — a partial claim set must not wedge other writers."""
        cids: dict[str, int] = {}
        try:
            for t in sorted(set(tables)):
                cids[t] = self.begin_commit(
                    t, timeout_sec=timeout_sec, poll_sec=poll_sec
                )
        except BaseException:
            for t, cid in cids.items():
                self.release_claim(t, cid)
            raise
        return cids

    def commit_many_occ(
        self, stagers: dict, timeout_sec: float = 120.0
    ) -> dict[str, int]:
        """Concurrent-writer-safe multi-table commit — the OCC form of
        stage-then-flip (plain ``stage``/``append`` + ``repoint`` is
        SINGLE WRITER and can lose a flip when e.g. a compactor races
        the sync daemon).

        ``stagers`` maps table -> callable(commit_id) that stages that
        table's data under the claimed id (an append dir or a versioned
        ``stage``). All ids are claimed up front in deterministic order
        (``begin_commit_many``), THEN all tables stage, THEN all
        pointers flip — so no other writer can stage any of the claimed
        ids and no staged commit is ever silently discarded. A failure
        anywhere before the flips releases every claim (abandoned
        claims would otherwise brick the tables for this process's
        lifetime). Crash DURABILITY across the multi-table flip loop is
        the same as the sync's: pointers flip one table at a time, so a
        crash inside the loop leaves a prefix of the tables committed
        (module docstring)."""
        cids = self.begin_commit_many(stagers.keys(), timeout_sec=timeout_sec)
        flipped: set[str] = set()
        try:
            for t in sorted(stagers):
                stagers[t](cids[t])
            for t in sorted(stagers):
                # record the flip the INSTANT the pointer replace lands:
                # the timestamp-log append can raise (disk full) after
                # the commit is already durable, and releasing a
                # durably-flipped claim would let a retry re-commit the
                # same rows under a new id (duplicate data)
                self._flip_pointer(t, cids[t])
                flipped.add(t)
                self._log_commit_ts(t, cids[t])
        except BaseException:
            for t, cid in cids.items():
                if t not in flipped:
                    self.release_claim(t, cid)
            raise
        return cids

    # --- merge-on-read equality deletes ---------------------------------------
    # The Iceberg-v2 delete-file idea on this store's commit layout: a
    # delete at commit d is a tiny parquet of KEY ROWS under
    # deletes/commit=d, gated by the SAME pointer as appends (a commit
    # exposes its appends and deletes together or neither). Semantics
    # (Iceberg's sequence-number rule): the delete removes every row
    # whose key matches and whose OWN commit id is STRICTLY BELOW d —
    # a re-insert in the same or a later commit survives, which makes
    # the one-commit upsert (delete old + append new) atomic.
    # Reads apply the tombstones with one equi-join against the
    # (usually tiny) aggregated delete-key frame; compaction purges
    # them physically for the segment it rewrites (it must: merging
    # re-stamps rows to the segment-boundary commit id, which would
    # otherwise resurrect deleted rows past their tombstone).
    # Tombstone dirs themselves are retained — rows in segments that
    # were never rewritten still need them; re-applying a tombstone to
    # already-purged rows is a no-op by construction.

    def delete_dir(self, table: str, commit_id: int) -> str:
        return os.path.join(self._tdir(table), "deletes", f"commit={commit_id}")

    def delete_facts(self, table: str, keys: DataFrame, commit_id: int) -> None:
        """Stage an equality-delete tombstone: every fact row matching a
        row of ``keys`` (all of its columns are the equality key) with
        row commit STRICTLY BELOW ``commit_id`` is removed from reads
        once the commit pointer reaches ``commit_id`` (appends in the
        same commit survive — the atomic upsert). Key columns must be
        consistent across all deletes of a table."""
        br = self.branch_info(table)
        if br is not None and commit_id <= br["base"]:
            raise ValueError(
                f"branch {table!r} delete commit_id={commit_id} must exceed "
                f"the branch base {br['base']}"
            )
        existing = self._delete_key_cols(table)
        if existing is not None and existing != sorted(keys.columns):
            raise ValueError(
                f"delete key columns {sorted(keys.columns)} != the table's "
                f"established delete key {existing}"
            )
        path = self.delete_dir(table, commit_id)
        keys.distinct().write.mode("overwrite").parquet(path)
        self._write_manifest(path)  # syncs the tombstone before any flip

    def delete_where(
        self,
        spark: SparkSession,
        table: str,
        condition,
        key_cols: list[str],
        commit_id: int,
    ) -> None:
        """Delta-style predicate DELETE (``DELETE FROM t WHERE ...``)
        on the merge-on-read path: ONE scan of the current table state
        computes the matching ``key_cols`` rows, which are staged as an
        ordinary equality-delete tombstone — history is never
        rewritten, the physical purge happens at the next compaction,
        and time travel below ``commit_id`` still sees the rows. The
        scan prunes to the predicate + key columns (columnar reads stay
        O(referenced columns), not O(row width)); the tombstone write
        is O(matching keys). ``condition`` is a Column or SQL string
        evaluated against the table's current read state.

        The strictly-below rule composes the usual way: rows appended
        later under the SAME commit id survive (predicate-delete +
        re-insert = atomic replace-where)."""
        from pyspark.sql import functions as F

        cond = F.expr(condition) if isinstance(condition, str) else condition
        keys = (
            self.read_facts(spark, table)
            .where(cond)
            .select(*key_cols)
            .distinct()
        )
        self.delete_facts(table, keys, commit_id)

    def upsert_facts(
        self,
        table: str,
        df: DataFrame,
        key_cols: list[str],
        commit_id: int,
        cluster_by: str | list[str] | None = None,
    ) -> DataFrame:
        """Atomic upsert = equality-delete of ``df``'s keys + append of
        ``df``, in ONE commit: the tombstone kills only rows committed
        strictly below ``commit_id`` (older versions of these keys),
        the new rows ride at ``commit_id`` and survive, and the pointer
        flip exposes both together or neither. O(new data) — history is
        never rewritten; the old versions stop matching at read time
        and are physically dropped by the next compaction.

        ``df`` is frozen (lazy ``localCheckpoint``) before use so the
        tombstone's key scan and the append consume the SAME
        materialized rows — a nondeterministic source (sample / rand /
        limit-after-shuffle) must not tombstone one key set and append
        another inside one commit. Returns the frozen frame so callers
        needing a row count can scan the cached partitions instead of
        re-evaluating the source."""
        df = freeze(df, eager=False)
        keys = df.select(*key_cols).distinct()
        self.delete_facts(table, keys, commit_id)
        try:
            self.append(table, df, commit_id, cluster_by=cluster_by)
        except Exception:
            # the tombstone staged above would otherwise RESURFACE once
            # a LATER commit moves the pointer past this commit id
            # (staged dirs <= pointer are visible) — a failed upsert
            # must roll back BOTH halves, not just the append
            shutil.rmtree(self.delete_dir(table, commit_id), ignore_errors=True)
            shutil.rmtree(self.append_dir(table, commit_id), ignore_errors=True)
            raise
        return df

    @scope()  # owns every freeze below: all are read by the staging writes
    def merge_into(
        self,
        spark: SparkSession,
        table: str,
        source: DataFrame,
        key_cols: list[str],
        commit_id: int,
        when_matched: str | None = "update",
        when_not_matched: str | None = "insert",
        cluster_by: str | list[str] | None = None,
        matched_condition=None,
    ) -> dict:
        """MERGE INTO (the Delta/Iceberg statement) on the fact store,
        staged as ONE commit: source rows whose key exists in the
        current merged read are "matched" (``when_matched``: ``update``
        = new version via tombstone + append, ``delete`` = tombstone
        only, ``None`` = leave target untouched); the rest follow
        ``when_not_matched`` (``insert`` or ``None``). The pointer flip
        exposes tombstones and appends together or not at all, and a
        crash before ``commit_append`` leaves only orphan staged dirs
        (vacuumed later) — same atomicity as :meth:`upsert_facts`.

        Scale shape: the only read of the target is the key-existence
        probe. ``update``+``insert`` needs NO probe at all (it is
        exactly :meth:`upsert_facts` — tombstoning an absent key is a
        no-op, so matched/unmatched need not be distinguished). For the
        other clause combinations the probe is one semi/anti join of
        the SOURCE against the target's key columns — and when the
        merge key is a single clustered column, the target side is
        :meth:`read_facts_pruned` down to the source's [min, max] key
        range first (a scalar probe), so a merge touching one day of a
        100 TB history classifies against that day's files, not the
        table. History is never rewritten; old versions stop matching
        at read time and compaction physically purges them.

        ``matched_condition`` (Delta's ``WHEN MATCHED AND <cond>``): a
        callable ``(s, t) -> Column`` where ``s("col")`` / ``t("col")``
        reference the source / target row — a matched source row
        updates/deletes ONLY when the condition holds; matched rows
        failing it leave the target untouched (they are never
        inserted). The canonical use is ordered upserts out of an
        unordered stream: ``lambda s, t: s("ts") > t("ts")`` makes the
        merge a per-key last-writer-wins regardless of batch arrival
        order. Needs the probe join to carry the target's compared
        columns, so the update+insert fast path is skipped; the target
        must hold at most ONE visible row per key (the upsert
        invariant) for the comparison to be well-defined.

        NULL comparand caveat: SQL three-valued logic applies. If the
        target's compared column is NULL for a matched key (e.g.
        pre-schema-evolution rows surfaced as typed NULLs by
        mergeSchema), a plain ``s("ts") > t("ts")`` evaluates to NULL —
        the source row is then neither updated nor inserted, so that
        stale target row can never be overwritten. For last-writer-wins
        over evolving schemas, coalesce the target side to a sentinel
        older than any real value:
        ``lambda s, t: s("ts") > F.coalesce(t("ts"), F.lit(0))``.

        CONTRACT: source keys unique (same as upsert — duplicate
        source keys would all survive the merge). Returns counts
        ``{"matched": n, "not_matched": m}`` (the probe's two sides;
        the update+insert fast path skips the probe so it cannot split
        the count — it returns ``{"staged": rows}``, counted off the
        frozen source without re-evaluating it). Caller still runs
        ``commit_append``."""
        if when_matched not in ("update", "delete", None):
            raise ValueError(f"when_matched={when_matched!r}")
        if when_not_matched not in ("insert", None):
            raise ValueError(f"when_not_matched={when_not_matched!r}")
        from pyspark.sql import functions as F

        if (
            when_matched == "update"
            and when_not_matched == "insert"
            and matched_condition is None
        ):
            # upsert_facts freezes the source and its append already
            # folded per-file footer row counts into the staged commit's
            # manifest — read the count from THERE: zero extra Spark
            # job, not even a cached-partition scan (r10 verdict #7).
            self.upsert_facts(table, source, key_cols, commit_id, cluster_by)
            staged = self._read_manifest(self.append_dir(table, commit_id))
            return {"staged": int(staged["rows"])}

        # Freeze the SOURCE itself before anything observes it: the
        # manifest-pruning bounds collect below is the first of several
        # evaluations (bounds, probe join x2, staging), and with a
        # nondeterministic source (sample / rand) a re-evaluation could
        # emit keys OUTSIDE the first evaluation's [lo, hi] — pruning
        # would then drop those keys' target rows from `cur`, an
        # existing key would classify as unmatched and append WITHOUT a
        # tombstone: two visible rows for one key. One materialization
        # feeds bounds, classification, and staging alike.
        source = freeze(source, eager=False)
        cur = self.read_facts(spark, table)
        if cur is None:
            matched = source.where(F.lit(False))
            unmatched = source
        else:
            if len(key_cols) == 1:
                kc = key_cols[0]
                b = source.agg(
                    F.min(kc).alias("lo"), F.max(kc).alias("hi")
                ).collect()[0]
                if b["lo"] is not None:
                    pruned = self.read_facts_pruned(
                        spark, table, kc, b["lo"], b["hi"]
                    )
                    if pruned is not None:
                        cur = pruned
            if matched_condition is not None:
                # one left join carrying the target's columns (prefixed)
                # so the condition can compare source vs target rows
                tgt = cur.select(
                    *key_cols,
                    F.lit(True).alias("__t_exists"),
                    *[
                        F.col(c).alias(f"__t_{c}")
                        for c in cur.columns
                        if c not in key_cols
                    ],
                )
                j = source.join(tgt, key_cols, "left")
                cond = matched_condition(
                    lambda c: F.col(c), lambda c: F.col(f"__t_{c}")
                )
                src_cols = source.columns
                matched = (
                    j.where(F.col("__t_exists") & cond)
                    .select(*src_cols)
                    .dropDuplicates(key_cols)
                )
                unmatched = j.where(F.col("__t_exists").isNull()).select(
                    *src_cols
                )
            else:
                cur_keys = cur.select(*key_cols).distinct()
                matched = source.join(cur_keys, key_cols, "left_semi")
                unmatched = source.join(cur_keys, key_cols, "left_anti")
        # Freeze both classification frames ONCE (lazy localCheckpoint —
        # the same freeze-before-multiple-consumers discipline as bpe.py
        # and prefix.py): the counts below, the tombstone staging, and
        # the append staging each consume `matched`/`unmatched`, and
        # without the freeze each consumer re-runs the target-probe join
        # (3x on the scale path) — worse, a nondeterministic source
        # (sample / rand / limit-after-shuffle) could classify a key as
        # matched for the tombstone write but not for the append write
        # inside one commit, tombstoning it without its replacement.
        matched = freeze(matched, eager=False)
        unmatched = freeze(unmatched, eager=False)
        n_matched = matched.count()
        n_unmatched = unmatched.count()

        if when_matched in ("update", "delete") and n_matched:
            self.delete_facts(
                table, matched.select(*key_cols).distinct(), commit_id
            )
        appends = []
        if when_matched == "update" and n_matched:
            appends.append(matched)
        if when_not_matched == "insert" and n_unmatched:
            appends.append(unmatched)
        if appends:
            try:
                self.append(table, _union(appends), commit_id, cluster_by=cluster_by)
            except Exception:
                # same both-halves rollback as upsert_facts: a staged
                # tombstone must not outlive its failed append
                shutil.rmtree(
                    self.delete_dir(table, commit_id), ignore_errors=True
                )
                shutil.rmtree(
                    self.append_dir(table, commit_id), ignore_errors=True
                )
                raise
        return {"matched": n_matched, "not_matched": n_unmatched}

    def _commit_dirs(
        self,
        table: str,
        sub: str,
        hi: float | None = None,
        lo: float = float("-inf"),
        shared: bool = True,
    ) -> list[tuple[str, int, str]]:
        """``(root, commit id, dir)`` for each ``commit=<id>`` dir of
        ``table``'s ``sub`` root (``"data"`` or ``"deletes"``) with
        ``lo < id <= hi``: the one answer to "which commit dirs does a
        reader at watermark ``hi`` see". ``hi`` defaults to the live
        pointer (no pointer: nothing is visible); a caller's ``hi`` is
        not clamped to it (``read_at`` replays a snapshot that may sit
        above a rolled-back pointer).

        Branch-aware: a branch sees its source's dirs up to the frozen
        base, then its own above it. ``shared=False`` lists ``table``'s
        own root alone, for the paths that remove or move its dirs.
        Source root first, and within a root ``sorted(os.listdir())``
        order: the order handed to ``spark.read.parquet``, so part of
        every read plan."""
        if hi is None:
            hi = self.current_version(table)
            if hi is None:
                return []
        br = self.branch_info(table) if shared else None
        spans = [(table, lo, hi)]
        if br is not None:
            spans = [
                (br["source"], lo, min(br["base"], hi)),
                (table, max(lo, br["base"]), hi),
            ]
        out = []
        for t, a, b in spans:
            root = os.path.join(self._tdir(t), sub)
            if not os.path.isdir(root):
                continue
            for d in sorted(os.listdir(root)):
                if d.startswith("commit="):
                    cid = int(d[len("commit="):])
                    if a < cid <= b:
                        out.append((root, cid, os.path.join(root, d)))
        return out

    def _read_roots(self, spark: SparkSession, entries) -> Iterator[DataFrame]:
        """One ``mergeSchema`` read per data root of ``entries``
        (``(root, ..., path)`` tuples: resolver entries, or
        ``(root, file)``), in first-seen root order. ``basePath`` keeps
        the ``commit`` partition column, which tombstone application
        needs; a branch read spans two roots, hence one read per root.
        Lazy, so a caller's per-root steps run before the next root's
        read, as they always have: the plan's expression ids follow
        that order."""
        by_root: dict[str, list[str]] = {}
        for root, *_, path in entries:
            by_root.setdefault(root, []).append(path)
        for root, paths in by_root.items():
            yield (
                spark.read.option("basePath", root)
                .option("mergeSchema", "true")
                .parquet(*paths)
            )

    def _delete_key_cols(self, table: str) -> list[str] | None:
        import pyarrow.parquet as pq

        dirs = [d for _, _, d in self._commit_dirs(table, "deletes")]
        if not dirs:
            # uncommitted tombstones still pin the key columns
            root = os.path.join(self._tdir(table), "deletes")
            if os.path.isdir(root):
                dirs = [os.path.join(root, d) for d in sorted(os.listdir(root))]
        for d in dirs:
            for fn in sorted(os.listdir(d)):
                if fn.endswith(".parquet"):
                    return sorted(pq.read_schema(os.path.join(d, fn)).names)
        return None

    def _delete_frame(
        self, spark: SparkSession, table: str, watermark: int
    ) -> DataFrame | None:
        """(key cols..., __del_max) — the highest tombstone ≤
        ``watermark`` per key: the same watermark the rows are read at,
        which ``read_at`` does not clamp to a rolled-back pointer. None
        when no tombstone is visible there (the zero-cost common case:
        reads skip the join)."""
        from pyspark.sql import functions as F

        parts = [
            spark.read.parquet(d).withColumn("__del_at", F.lit(cid))
            for _, cid, d in self._commit_dirs(table, "deletes", watermark)
        ]
        if not parts:
            return None
        out = _union(parts)
        keys = [c for c in out.columns if c != "__del_at"]
        return out.groupBy(*keys).agg(F.max("__del_at").alias("__del_max"))

    # --- commit manifests ----------------------------------------------------

    def _write_manifest(self, path: str, schema: StructType | None = None) -> None:
        """Footer stats of ``path``; with ``schema`` (the version writers
        pass the frame they wrote), also its read schema for
        ``_read_version``. The manifest is the commit record, so the
        dir's data files are fsynced before it is written, and the dir's
        own entry in its parent after."""
        m = footer_stats(path)
        for fe in m["files"]:
            fsync_path(os.path.join(path, fe["name"]))
        extra = {} if schema is None else {"schema": _nullable(schema).jsonValue()}
        write_atomic(
            os.path.join(path, MANIFEST),
            {
                **extra,
                "rows": m["rows"],
                "bytes": m["bytes"],
                "stats": _map_stats(m["stats"], _enc),
                # per-file zone map (Iceberg's data-file stats): lets
                # read_facts_pruned skip FILES inside a surviving
                # commit, not just whole commits — the payoff of
                # sort-on-write clustering realized at planning time
                "files": [
                    {**fe, "stats": _map_stats(fe["stats"], _enc)}
                    for fe in m["files"]
                ],
            },
        )
        fsync_path(os.path.dirname(path))

    def _read_manifest(self, path: str) -> dict:
        """Manifest for one data dir; self-heals dirs written before the
        manifest era by recomputing from footers (still zero data pages)."""
        fp = os.path.join(path, MANIFEST)
        if not os.path.exists(fp):
            self._write_manifest(path)
        m = read_json(fp)
        m["stats"] = _map_stats(m["stats"], _dec)
        # pre-file-stats manifests (older writer era) have no "files":
        # callers treat that as "cannot prune within this commit" and
        # keep the whole dir — never rewrite committed history for it
        for fe in m.get("files", ()):
            fe["stats"] = _map_stats(fe["stats"], _dec)
        return m

    def describe_history(self, spark: SparkSession, table: str) -> DataFrame:
        """Delta's ``DESCRIBE HISTORY`` for a fact table: one row per
        visible (commit, operation) — operation 'append' for data dirs,
        'delete' for tombstone dirs — with the row count read from the
        commit MANIFEST (self-healing for pre-manifest dirs), so the
        audit is O(#commit dirs) metadata and never opens a data page.
        An upsert shows as its two halves at the same commit id (one
        append + one delete), which is exactly what it is on disk.
        Branch-aware through the same dir resolution as reads."""
        rows = [
            (cid, op, int(self._read_manifest(d)["rows"]))
            for sub, op in (("data", "append"), ("deletes", "delete"))
            for _, cid, d in self._commit_dirs(table, sub)
        ]
        return spark.createDataFrame(
            rows, "commit_id int, operation string, n_rows bigint"
        )

    def facts_stats(self, table: str) -> dict | None:
        """Fold per-commit manifests: total rows + global min/max per
        column, without reading any fact data. O(#commit dirs)."""
        dirs = [d for _, _, d in self._commit_dirs(table, "data")]
        if not dirs:
            return None
        rows, stats = 0, {}
        covered, nonempty = {}, 0
        for d in dirs:
            m = self._read_manifest(d)
            rows += m["rows"]
            if m["rows"] > 0:
                nonempty += 1
            for c, s in m["stats"].items():
                covered[c] = covered.get(c, 0) + 1
                cur = stats.get(c)
                if cur is None:
                    stats[c] = dict(s)
                else:
                    cur["min"] = min(cur["min"], s["min"])
                    cur["max"] = max(cur["max"], s["max"])
        # Mirror footer_stats' coverage rule across commits: a column
        # missing from any NON-EMPTY commit's manifest (stats-less
        # writer era, schema drift) must not surface a partial fold —
        # drop it so callers fall back to the data scan. Empty commits
        # carry no stats for any column and are exempt: they cannot
        # move a min/max.
        stats = {c: s for c, s in stats.items() if covered.get(c, 0) >= nonempty}
        return {"rows": rows, "stats": stats, "commits": len(dirs)}

    def facts_max(self, table: str, column: str):
        m = self.facts_stats(table)
        if m is None or column not in m["stats"]:
            return None
        return m["stats"][column]["max"]

    def dim_stats(self, table: str) -> dict | None:
        """Manifest of the current version of a versioned (dim) table."""
        v = self.current_version(table)
        if v is None:
            return None
        return self._read_manifest(self._resolve_version_dir(table, v))

    def dim_max(self, table: str, column: str):
        m = self.dim_stats(table)
        if m is None or column not in m["stats"]:
            return None
        return m["stats"][column]["max"]

    def _facts_frame(
        self, spark: SparkSession, table: str, watermark: int
    ) -> DataFrame | None:
        """Fact rows visible to ``table`` at commit ``watermark``,
        branch-aware: a branch unions the source root (commits ≤ the
        frozen base) with its own root (base < commit ≤ watermark);
        a plain table reads its single root. Returns None when no fact
        root exists.

        mergeSchema: commits may carry EVOLVED schemas (a column added
        in a later period); the merged read surfaces the union with
        NULLs for pre-evolution commits — the additive-only evolution
        contract (drops/renames need a compaction rewrite). Cost is a
        parallel footer sweep, O(#files) metadata, zero data pages.
        Across branch roots the same contract holds via unionByName
        with allowMissingColumns.

        Schema is isolated AT the watermark: only commit dirs inside
        (lo, hi] are handed to the reader, so a column introduced by a
        LATER commit never appears in a branch / time-travel read —
        "commits after base are invisible" holds for the schema, not
        just the rows. (Listing the visible dirs explicitly also
        replaces the old read-everything-then-row-filter plan, so the
        footer sweep itself is bounded by the watermark.)"""

        entries = self._commit_dirs(table, "data", watermark)
        parts = list(self._read_roots(spark, entries))
        if not parts:
            return None
        out = _union(parts, allow_missing=True)
        return self._apply_deletes(spark, table, out, watermark).drop("commit")

    def _apply_deletes(
        self, spark: SparkSession, table: str, df: DataFrame, watermark: int
    ) -> DataFrame:
        """Merge-on-read: drop rows killed by a committed tombstone
        (``df`` must carry the ``commit`` column). A row survives when
        no tombstone for its key sits STRICTLY ABOVE its own commit id
        (the Iceberg sequence rule) — re-inserts in the same or a later
        commit outlive earlier deletes. No-op (no join in the plan at
        all) for tables that never deleted anything."""
        from pyspark.sql import functions as F

        dels = self._delete_frame(spark, table, watermark)
        if dels is None:
            return df
        keys = [c for c in dels.columns if c != "__del_max"]
        return (
            df.join(dels, keys, "left")
            .where(
                F.col("__del_max").isNull()
                | (F.col("__del_max") <= F.col("commit"))
            )
            .drop("__del_max")
        )

    def read_facts(self, spark: SparkSession, table: str) -> DataFrame | None:
        ptr = self.current_version(table)
        if ptr is None:
            return None
        return self._facts_frame(spark, table, ptr)

    def read_facts_changes(
        self,
        spark: SparkSession,
        table: str,
        since: int,
        until: int | None = None,
    ) -> DataFrame | None:
        """Row-level change feed for commits in ``(since, until]`` —
        the Delta change-data-feed / Iceberg incremental-scan read that
        lets a downstream consumer sync WITHOUT rescanning the table:
        appended rows surface as ``_change_type='insert'`` and
        equality-delete keys as ``'delete'`` (key columns populated,
        value columns NULL — merge-on-read tombstones carry no
        before-image), each stamped with its ``_commit``. History is
        reported as written: a row inserted and deleted inside the
        range emits BOTH events, in commit order.

        Scale: reads exactly the commit dirs in the range (O(changed
        data), never the table) plus the tiny tombstone parquets.
        Branch-aware through the same dir resolution as ``read_facts``.
        Caveat (Iceberg has the same): ``compact_facts`` re-stamps
        merged rows to the segment boundary, so a feed consumer must
        stay ahead of the compaction horizon or resync from a full
        read. Returns None when the table has no committed data; an
        empty frame when the range contains no changes."""
        from pyspark.sql import functions as F

        ptr = self.current_version(table)
        if ptr is None:
            return None
        hi = ptr if until is None else min(until, ptr)
        base = self.read_facts(spark, table)  # full-schema reference
        if base is None:  # pointer exists but no fact data root at all
            return None
        schema_cols = base.columns
        clash = {"_commit", "_change_type", "commit"}.intersection(schema_cols)
        if clash:
            raise ValueError(
                f"read_facts_changes: fact schema of {table!r} uses reserved "
                f"change-feed column name(s) {sorted(clash)}; rename them — "
                "'_commit'/'_change_type' are feed metadata and 'commit' is "
                "the store's internal partition column"
            )

        def event(df: DataFrame, change_type: str) -> DataFrame:
            # pad to the full schema (typed NULLs), then stamp the kind
            for c in schema_cols:
                if c not in df.columns:
                    df = df.withColumn(
                        c, F.lit(None).cast(base.schema[c].dataType)
                    )
            return df.select(*schema_cols, "_commit").withColumn(
                "_change_type", F.lit(change_type)
            )

        parts = [
            event(
                df.withColumn("_commit", F.col("commit").cast("bigint")).drop(
                    "commit"
                ),
                "insert",
            )
            for df in self._read_roots(
                spark, self._commit_dirs(table, "data", hi, lo=since)
            )
        ] + [
            event(
                spark.read.parquet(d).withColumn(
                    "_commit", F.lit(cid).cast("bigint")
                ),
                "delete",
            )
            for _, cid, d in self._commit_dirs(table, "deletes", hi, lo=since)
        ]
        if not parts:
            return (
                base.withColumn("_commit", F.lit(None).cast("bigint"))
                .withColumn("_change_type", F.lit(None).cast("string"))
                .where(F.lit(False))
            )
        return _union(parts)

    def read_facts_pruned(
        self, spark: SparkSession, table: str, column: str, lo, hi
    ) -> DataFrame | None:
        """``read_facts`` restricted to ``column BETWEEN lo AND hi``,
        with TWO levels of manifest pruning: (1) commit dirs whose
        folded [min, max] misses the range are never given to the
        reader; (2) within surviving commits, individual FILES whose
        per-file zone-map range misses it are dropped from the read —
        the Iceberg data-file-stats plan-time skip, which is what makes
        sort-on-write clustering (``append(cluster_by=...)``: disjoint
        per-file ranges) pay off before the scan even starts. An
        incremental consumer of a 100 TB fact history lists O(#commits)
        manifests and scans only the files its time range touches. The
        residual predicate still applies (manifest ranges overlap the
        filter, they don't equal it). Manifests from before the
        file-stats era carry no "files" entry — those commits keep all
        their files (prune only what is provably absent). Returns None
        when no committed data exists; an empty frame when nothing
        overlaps."""
        from pyspark.sql import functions as F

        entries = self._commit_dirs(table, "data")
        if not entries:
            return None
        keep: list[tuple[str, str]] = []  # (root, dir or file)
        for root, _, d in entries:
            m = self._read_manifest(d)
            s = m["stats"].get(column)
            # no stats for the column (all-null or non-footer type):
            # cannot prove absence — keep the dir
            if s is not None and not (s["max"] >= lo and s["min"] <= hi):
                continue
            file_entries = m.get("files")
            if not file_entries:
                keep.append((root, d))  # pre-file-stats manifest: whole dir
                continue
            for fe in file_entries:
                fs = fe["stats"].get(column)
                if fs is None or (fs["max"] >= lo and fs["min"] <= hi):
                    keep.append((root, os.path.join(d, fe["name"])))
        base = self.read_facts(spark, table)  # schema ref; commit already dropped
        if not keep:
            return base.where(F.lit(False))
        df = _union(self._read_roots(spark, keep), allow_missing=True)
        df = df.where(F.col(column).between(F.lit(lo), F.lit(hi)))
        df = self._apply_deletes(
            spark, table, df, self.current_version(table)
        ).drop("commit")
        # evolved columns present only in PRUNED commits: surface them
        # as typed NULLs so the pruned read's schema always equals the
        # full read's (the additive-evolution contract of read_facts)
        for f_ in base.schema.fields:
            if f_.name not in df.columns:
                df = df.withColumn(f_.name, F.lit(None).cast(f_.dataType))
        return df.select(base.columns)

    # --- snapshot / restore (A10) --------------------------------------------

    def _snap_path(self, tag: str) -> str:
        return os.path.join(self.base_dir, f"_SNAPSHOT_{tag}.json")

    def snapshot(self, tag: str) -> dict:
        tables = [
            t
            for t in os.listdir(self.base_dir)
            if os.path.isdir(self._tdir(t)) and self.current_version(t) is not None
        ]
        manifest = {"versions": {t: self.current_version(t) for t in tables}}
        write_atomic(self._snap_path(tag), manifest)
        return manifest

    def _read_snapshot(self, tag: str) -> dict:
        return read_json(self._snap_path(tag))

    def restore(self, tag: str) -> None:
        for table, version in self._read_snapshot(tag)["versions"].items():
            self.repoint(table, version)

    def read_at(self, spark: SparkSession, table: str, tag: str) -> DataFrame | None:
        """Time-travel read: the table as of snapshot ``tag``, without
        repointing anything (the snapshot is just version pointers, so
        this is O(1) metadata — no data was copied at snapshot time).
        Fact tables replay to the snapshot's commit watermark."""
        version = self._read_snapshot(tag)["versions"].get(table)
        if version is None:
            return None
        br = self.branch_info(table)
        is_facts = os.path.isdir(os.path.join(self._tdir(table), "data")) or (
            br is not None
            and os.path.isdir(os.path.join(self._tdir(br["source"]), "data"))
        )
        if is_facts:
            return self._facts_frame(spark, table, version)
        return self._read_version(spark, self._resolve_version_dir(table, version))

    # --- AS OF TIMESTAMP time travel ------------------------------------------
    # Delta/Iceberg resolve TIMESTAMP AS OF through per-commit wall
    # times; here `repoint` appends {version, ts} to a per-table
    # _COMMITS.jsonl AFTER the atomic pointer flip, and timestamp
    # queries resolve to the LAST version whose flip time <= ts. A
    # crash between flip and log append loses one log line — the
    # fallback below treats a pointer ahead of the log as committed
    # "now", and crash-replay re-commits append a second line whose
    # later time wins (the replayed exposure time — the honest answer).
    # A rollback logs the OLD version at rollback time, so AS OF after
    # the rollback correctly sees the rolled-back state.

    def _commit_log_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_COMMITS.jsonl")

    def commit_log(self, table: str) -> list[dict]:
        try:
            with open(self._commit_log_path(table)) as f:
                return [json.loads(line) for line in f if line.strip()]
        except FileNotFoundError:
            return []

    def version_as_of_time(self, table: str, ts) -> int | None:
        """Largest version whose pointer flip happened at or before
        ``ts`` (datetime or ISO string, UTC). None = before the first
        commit."""
        if isinstance(ts, str):
            ts = _dt.datetime.fromisoformat(ts)
        if ts.tzinfo is not None:
            ts = ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        # the LATEST flip at-or-before ts wins — NOT the max version:
        # after a rollback the log reads e.g. v3@t3 then v2@t5, and
        # AS OF t6 must answer v2 (log order breaks equal-ts ties).
        # The answer is additionally CLAMPED to the current pointer:
        # after a rollback, commits above the pointer are unreadable
        # (read_facts_at_commit's documented invariant — above-pointer
        # dirs are indistinguishable from crashed staging attempts and
        # may be rewritten in place by the replay protocol), so the
        # queryable timeline truncates at the rollback target, unlike
        # Delta where immutable version files stay readable until
        # VACUUM.
        best = None
        best_ts = None
        for e in self.commit_log(table):
            ets = _dt.datetime.fromisoformat(e["ts"])
            if ets <= ts and (best_ts is None or ets >= best_ts):
                best, best_ts = e["version"], ets
        ptr = self.current_version(table)
        if best is not None and ptr is not None:
            best = min(best, ptr)
        return best

    def read_facts_at_time(
        self, spark: SparkSession, table: str, ts
    ) -> DataFrame | None:
        """``TIMESTAMP AS OF`` for a fact table: the merged read
        replayed to the last commit exposed at wall time ``ts``."""
        version = self.version_as_of_time(table, ts)
        if version is None:
            return None
        return self.read_facts_at_commit(spark, table, version)

    def read_facts_at_commit(
        self, spark: SparkSession, table: str, commit_id: int
    ) -> DataFrame | None:
        """Time-travel a FACT table to an arbitrary commit id without a
        snapshot tag (Iceberg's VERSION AS OF by snapshot-id, vs
        read_at's tag-based AS OF): the merged read replayed to
        ``min(commit_id, current pointer)`` — schema isolated at that
        watermark, tombstones ≤ it applied, branch-aware. O(visible
        commit dirs) metadata, no repointing."""
        ptr = self.current_version(table)
        if ptr is None:
            return None
        return self._facts_frame(spark, table, min(commit_id, ptr))

    def diff(
        self,
        spark: SparkSession,
        table: str,
        tag_a: str,
        tag_b: str,
        key_cols: list[str],
    ) -> DataFrame:
        """Row-level CHANGE FEED between two snapshots: which keys were
        added / removed / changed going tag_a → tag_b. Both sides are
        O(1)-metadata time-travel reads (read_at); the comparison is one
        full-outer equi-join on the key with null-safe struct equality
        over the common non-key columns — no row hashing, no driver
        state. Unchanged rows are dropped before the result leaves the
        join, so output is O(|changes|). This is the audit/debug query a
        versioned 100 TB store must answer ("what did period N change?")
        without replaying the pipeline."""
        from pyspark.sql import functions as F

        a, b = self.read_at(spark, table, tag_a), self.read_at(spark, table, tag_b)
        if a is None and b is None:
            raise ValueError(f"{table} exists in neither snapshot")
        if a is None:
            return b.select(*key_cols, F.lit("added").alias("change_type"))
        if b is None:
            return a.select(*key_cols, F.lit("removed").alias("change_type"))
        vals = sorted(
            (set(a.columns) & set(b.columns)) - set(key_cols)
        )
        a_s = a.select(*key_cols, F.struct(*vals).alias("__va"))
        b_s = b.select(*key_cols, F.struct(*vals).alias("__vb"))
        j = a_s.join(b_s, key_cols, "full_outer")
        change = (
            F.when(F.col("__va").isNull(), "added")
            .when(F.col("__vb").isNull(), "removed")
            .when(~F.col("__va").eqNullSafe(F.col("__vb")), "changed")
        )
        return (
            j.select(*key_cols, change.alias("change_type"))
            .where(F.col("change_type").isNotNull())
        )

    # --- retention ----------------------------------------------------------

    def _snapshot_tags(self) -> list[str]:
        return [
            f[len("_SNAPSHOT_"):-len(".json")]
            for f in os.listdir(self.base_dir)
            if f.startswith("_SNAPSHOT_") and f.endswith(".json")
        ]

    def _pins(self, snapshots: bool = True) -> dict[str, set[int]]:
        """Versions each table must keep readable: every branch base
        (pinned on its source) and, with ``snapshots``, every snapshot's
        recorded version. ``vacuum`` keeps their dirs, ``compact_facts``
        never merges across them, and ``rollback_facts`` never rolls
        below a branch base."""
        pins: dict[str, set[int]] = {}
        for tag in self._snapshot_tags() if snapshots else ():
            for t, v in self._read_snapshot(tag)["versions"].items():
                pins.setdefault(t, set()).add(v)
        for t in os.listdir(self.base_dir):
            br = self.branch_info(t)
            if br is not None:
                pins.setdefault(br["source"], set()).add(br["base"])
        return pins

    def vacuum(self, keep_last: int = 1) -> dict[str, list[str]]:
        """Reclaim unreferenced storage from a long-running sync.

        A version directory is PROTECTED if it is (a) the current
        pointer, (b) recorded by any snapshot, or (c) among the
        ``keep_last`` most recent versions; everything else is deleted.
        Fact append-partitions above the commit watermark are orphans
        from aborted commits (the stage-then-flip protocol never
        exposed them to readers) and are removed too. Pure metadata +
        directory deletes that never touch the current version's data.
        Retention caveat (inherent to version-pointer stores, same as
        Delta/Iceberg VACUUM): an external reader that resolved an OLD
        version pointer just before a repoint can lose its directory
        mid-scan if that version falls outside ``keep_last`` — size
        ``keep_last`` to cover the longest expected reader, or pause
        vacuuming around long ad-hoc scans.
        """
        protected = self._pins()
        removed: dict[str, list[str]] = {}
        for table in os.listdir(self.base_dir):
            tdir = self._tdir(table)
            if not os.path.isdir(tdir):
                continue
            current = self.current_version(table)
            if current is None:
                continue
            keep = protected.get(table, set()) | {current}
            versions = sorted(
                int(d[1:])
                for d in os.listdir(tdir)
                if d.startswith("v") and d[1:].isdigit()
            )
            if keep_last > 0:  # versions[-0:] would be the WHOLE list
                keep.update(versions[-keep_last:])
            for v in versions:
                if v not in keep:
                    shutil.rmtree(self._data_dir(table, v))
                    removed.setdefault(table, []).append(f"v{v}")
            # orphans = commits above EVERY watermark anyone could
            # read: the live pointer and any snapshot's pointer (a
            # restore may move the watermark forward again). Same rule
            # for tombstone dirs — an aborted delete commit never
            # became visible.
            watermark = max(keep)
            for sub in ("data", "deletes"):
                for _, _, d in self._commit_dirs(
                    table, sub, float("inf"), lo=watermark, shared=False
                ):
                    shutil.rmtree(d)
                    name = os.path.basename(d)
                    removed.setdefault(table, []).append(
                        name if sub == "data" else f"deletes/{name}"
                    )
        return removed

    # --- fact compaction -----------------------------------------------------
    # A long-running sync accumulates one commit dir per period forever
    # (the small-files problem: at a 2h period that is ~4.4k dirs/year,
    # each holding `shuffle.partitions` small parquet files). Compaction
    # merges runs of commit dirs into one dir per SEGMENT, where segment
    # boundaries are exactly the watermarks any reader can resolve — the
    # live pointer and every snapshot's pointer — so `read_facts`
    # (filter commit <= ptr) and `read_at` time travel keep returning
    # byte-identical row sets: a merged dir is named after its segment's
    # upper boundary b, and every reader watermark w is a boundary, so
    # "dir id <= w" still selects precisely the original commits <= w.
    #
    # Crash safety is a journal protocol (dir renames aren't atomic as a
    # group): merged data is staged under a dot-dir Spark ignores, a
    # journal naming (remove-list, promote-pair) is written with
    # `write_atomic` (fsynced, then renamed into place), then applied;
    # recovery at TableStore.__init__ re-applies an interrupted journal
    # idempotently. Mirrors `vacuum`'s reader
    # caveat: run quiescent or size retention to cover in-flight scans.

    def _journal_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_COMPACT_JOURNAL.json")

    def _apply_journal(self, table: str, journal: dict) -> None:
        tmp, final = journal["promote"]
        # tmp already gone ⇒ the promote happened before a crash; the
        # final dir now holds the MERGED data and must not be removed
        # even though its name appears in the remove list.
        promoted = not os.path.isdir(tmp)
        for d in journal["remove"]:
            if promoted and os.path.abspath(d) == os.path.abspath(final):
                continue
            if os.path.isdir(d):
                shutil.rmtree(d)
        if not promoted:
            os.replace(tmp, final)
        os.remove(self._journal_path(table))

    def _recover_compaction(self, table: str) -> None:
        jp = self._journal_path(table)
        if os.path.exists(jp):
            self._apply_journal(table, read_json(jp))

    def compact_facts(
        self,
        spark: SparkSession,
        table: str,
        target_bytes_per_file: int = 128 * 1024 * 1024,
        min_dirs_per_segment: int = 2,
        cluster_by: str | list[str] | None = None,
    ) -> dict:
        """Merge committed append dirs into one dir per snapshot segment.

        Returns {"segments": [(boundary, n_dirs_merged), ...]}. Leaves
        orphan dirs above the pointer to ``vacuum``. Output file count
        is sized from the segment's manifest byte totals so merged files
        land near ``target_bytes_per_file`` — the small-files fix, not
        just a dir-count fix.

        ``cluster_by``: re-cluster the merged segment on a column
        (range-partition into the sized file count + sort within each
        file) instead of ``coalesce``. This is where sort-on-write
        belongs at 100 TB: per-period appends arrive roughly
        time-ordered anyway, but history merged from many periods
        interleaves ranges — compaction is the one pass that already
        rewrites it, so clustering there is a free upgrade from
        "merged" to "merged + globally range-laid-out", and range
        reads over compacted history prune at file AND row-group
        granularity (see test_store_compaction_clusters_files).
        """
        self._recover_compaction(table)
        ptr = self.current_version(table)
        data = os.path.join(self._tdir(table), "data")
        if ptr is None or not os.path.isdir(data):
            return {"segments": []}

        # snapshot pointers and branch bases are reader watermarks: a
        # branch resolves "source commit ≤ base", so a merged dir must
        # never straddle a base — the branch would see post-base rows
        watermarks = self._pins().get(table, set()) | {ptr}
        entries = sorted(
            self._commit_dirs(table, "data", ptr, shared=False),
            key=lambda e: e[1],
        )
        boundaries = sorted(w for w in watermarks if w <= ptr)
        done, prev = [], float("-inf")
        for b in boundaries:
            seg = [e for e in entries if prev < e[1] <= b]
            prev = b
            if len(seg) < min_dirs_per_segment:
                continue
            dirs = [d for _, _, d in seg]
            total = sum(self._read_manifest(d)["bytes"] for d in dirs)
            nfiles = max(1, -(-total // target_bytes_per_file))
            tmp = os.path.join(data, f".compact-{b}.tmp")
            if os.path.isdir(tmp):
                shutil.rmtree(tmp)
            # PHYSICALLY purge tombstoned rows while merging — required
            # for correctness, not just hygiene: the merge re-stamps
            # every row to commit id b, so a row deleted at d ≤ b would
            # otherwise outrank its tombstone and resurrect. Tombstone
            # dirs are retained (rows in never-rewritten segments still
            # need them; re-application to purged rows is a no-op).
            (merged,) = self._read_roots(spark, seg)
            merged = self._apply_deletes(spark, table, merged, b).drop("commit")
            if isinstance(cluster_by, (list, tuple)):
                from ..operators.zorder import zorder_frame

                merged = zorder_frame(merged, list(cluster_by), nfiles)
            elif cluster_by is not None:
                merged = merged.repartitionByRange(
                    nfiles, cluster_by
                ).sortWithinPartitions(cluster_by)
            else:
                merged = merged.coalesce(nfiles)
            merged.write.mode("overwrite").parquet(tmp)
            self._write_manifest(tmp)
            journal = {"remove": dirs, "promote": [tmp, self.append_dir(table, b)]}
            write_atomic(self._journal_path(table), journal)
            self._apply_journal(table, journal)
            done.append((b, len(seg)))
        # TOMBSTONE GC: once the FIRST segment (history's beginning up
        # to the first boundary b1) has been compacted, every tombstone
        # at commit ≤ b1 is provably spent — its victims (rows with
        # commit < d ≤ b1) all lived in that segment and were purged by
        # the merge, and no reader watermark sits below b1 (boundaries
        # ARE the watermarks, b1 the smallest). Dropping them returns
        # never-deleted read plans to the zero-join fast path. A
        # first segment skipped by min_dirs_per_segment keeps its
        # tombstones (nothing was rewritten). NEVER GC on a BRANCH: its
        # tombstones in (base, b1] target the source's shared history,
        # which this compaction did not rewrite — dropping them would
        # resurrect those rows in branch reads.
        if done and done[0][0] == boundaries[0] and self.branch_info(table) is None:
            b1 = done[0][0]
            spent = []
            for _, _, d in self._commit_dirs(table, "deletes", b1, shared=False):
                shutil.rmtree(d)
                spent.append(os.path.basename(d))
            if spent:
                return {"segments": done, "tombstones_dropped": spent}
        return {"segments": done}
