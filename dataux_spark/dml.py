"""DML — INSERT / UPDATE / UPSERT / DELETE with affected-row counts.

Reference semantics (/root/reference SURVEY §3.3): the exec layer drives a
per-backend mutator — Cassandra prepared upsert (backends/cassandra/
sql_to_cql.go:246-361), Datastore read-modify-write (backends/datastore/
sql_to_datastore.go:251-338), delete-by-key or delete-by-expression
(sql_to_cql.go:368-394). Result is an affected-row count
(frontends/mysqlfe/results_mysql.go:295-348).

Spark-first: mutations are expressed as DataFrame transforms over the current
table state and committed copy-on-write:
  INSERT  → VALUES df unioned by name (missing cols → NULL)
  UPDATE  → CASE WHEN <where> THEN <expr> ELSE <col> END per SET column
  DELETE  → anti-filter
  UPSERT  → delete-matching-keys + insert (MERGE semantics)
At 100 TB these are exactly the Delta Lake / Iceberg MERGE/DELETE patterns;
this container has no Delta jars, so commit targets are in-memory views or
parquet rewrite — the transform layer is the part that scales (a Delta MERGE
executes the same anti-join + union plan).

Statement parsing stays intentionally small: the reference's DML grammar is
MySQL basic (no subqueries in SET, no multi-table UPDATE).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataux_spark.sqlutil import local_frame

_INSERT_RE = re.compile(
    r"^\s*(INSERT|UPSERT)\s+INTO\s+`?(\w+)`?\s*\(([^)]*)\)\s*VALUES\s*(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_SELECT_RE = re.compile(
    r"^\s*(INSERT|UPSERT)\s+INTO\s+`?(\w+)`?\s*(?:\(([^)]*)\))?\s*(SELECT\s+.+)$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+`?(\w+)`?\s+SET\s+(.+?)(?:\s+WHERE\s+(.+))?$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+`?(\w+)`?(?:\s+WHERE\s+(.+))?$",
    re.IGNORECASE | re.DOTALL,
)
# MERGE splits header and clause list: the header pins target/source/ON,
# then _MERGE_CLAUSE_RE walks the ordered WHEN clauses (Delta's grammar —
# any number of WHEN [NOT] MATCHED [AND <cond>] THEN UPDATE SET…/DELETE/
# INSERT…, first-match-wins per row).
_MERGE_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+`?(\w+)`?\s+(?:AS\s+)?(\w+)?\s*"
    r"USING\s+`?(\w+)`?\s+(?:AS\s+)?(\w+)?\s*"
    r"ON\s+(.+?)\s+"
    r"(WHEN\s+(?:NOT\s+)?MATCHED\b.+)$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_CLAUSE_RE = re.compile(
    r"WHEN\s+(NOT\s+)?MATCHED\s*(?:AND\s+(.+?))?\s*THEN\s+"
    r"(?:UPDATE\s+SET\s+(.+?)"
    r"|(DELETE)"
    r"|INSERT\s*(?:\(([^)]*)\)\s*VALUES\s*\(([^)]*)\)|(\*)))\s*"
    r"(?=WHEN\s+(?:NOT\s+)?MATCHED\b|$)",
    re.IGNORECASE | re.DOTALL,
)


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on sep outside parens/quotes."""
    parts, depth, buf, quote = [], 0, [], None
    for ch in s:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in ("'", '"', "`"):
            quote = ch
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == sep and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    if buf:
        parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


class DmlResult:
    """Affected-row count result (reference results_mysql.go:295-348)."""

    def __init__(self, affected: int):
        self.affected = affected

    def __repr__(self):
        return f"DmlResult(affected={self.affected})"


class TableStore:
    """Mutable table state keeper: name → current DataFrame + optional keys.

    Commits re-register the temp view so subsequent SELECTs observe the
    mutation (read-your-writes, as the reference's backends provide).

    Two commit modes:
      in-memory (default) — collect + re-create; fine for small admin
          tables (the reference's memdb).
      parquet-backed (`set_parquet_backing`) — copy-on-write versioned
          parquet directories, executor-side write, never collects to the
          driver. This is the 100 TB path: a mutation is a distributed
          rewrite producing a new table version (exactly what Delta/Iceberg
          MERGE does under the hood; swap in those formats when their jars
          are on the classpath).
    """

    # changes(): max union branches accumulated before a lineage cut
    _CDC_UNION_BATCH = 32

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._keys: dict[str, list[str]] = {}
        self._backing: dict[str, str] = {}  # table -> workdir
        self._version: dict[str, int] = {}
        self._first_version: dict[str, int] = {}  # advanced by vacuum()
        self._constraints: dict[str, dict[str, str]] = {}

    # -- CHECK constraints (Delta ALTER TABLE ADD CONSTRAINT parity) -------

    def add_constraint(self, table: str, name: str, expr: str) -> None:
        """Register a named CHECK constraint. Like Delta, registration
        SCANS the existing data first and fails if any current row
        violates the predicate — a constraint that doesn't hold is
        rejected, not silently recorded. One conditional-sum aggregate
        over the current version (the operators/quality.py shape)."""
        self._validate(table, self.current(table), {name: expr})
        self._constraints.setdefault(table, {})[name] = expr

    def drop_constraint(self, table: str, name: str) -> None:
        if name not in self._constraints.get(table, {}):
            raise ValueError(f"no constraint {name!r} on table {table!r}")
        del self._constraints[table][name]

    def constraints(self, table: str) -> dict[str, str]:
        return dict(self._constraints.get(table, {}))

    def _validate(self, table: str, df: DataFrame,
                  rules: dict[str, str] | None = None) -> None:
        """Raise if any rule is violated in `df` — the write-path gate
        every commit runs over the rows it is about to make visible
        (exactly the files a commit writes: full state on plain commits,
        only rewritten/appended frames on file-pruned commits — the
        Delta cost model, where validation rides the write pass). NULL
        predicate results violate (strict CHECK three-valued logic,
        matching operators/quality.py). The whole rule set folds into
        ONE aggregate over the frame."""
        rules = self._constraints.get(table) if rules is None else rules
        if not rules:
            return
        from dataux_spark.operators.quality import Expectation, expectation_report

        exps = [Expectation(n, e, "fail") for n, e in sorted(rules.items())]
        bad = [
            (r.rule, r.n_violations)
            for r in expectation_report(df, exps).collect()
            if r.n_violations
        ]
        if bad:
            detail = ", ".join(f"{n}={c}" for n, c in bad)
            raise ValueError(f"CHECK constraint violated on {table!r}: {detail}")

    def set_keys(self, table: str, keys: list[str]) -> None:
        self._keys[table] = keys

    def keys(self, table: str) -> list[str]:
        return self._keys.get(table, [])

    def set_parquet_backing(self, table: str, workdir: str) -> None:
        """Commits for `table` write versioned parquet under workdir.
        Version 0 — the pre-mutation state — is materialized immediately so
        time travel reaches the initial snapshot (Delta's convention: the
        initial commit IS version 0)."""
        self._backing[table] = workdir
        if table not in self._version:
            path = f"{workdir}/v000000"
            self.spark.table(table).write.mode("overwrite").parquet(path)
            self._version[table] = 0

    def current(self, table: str) -> DataFrame:
        return self.spark.table(table)

    def version_of(self, table: str, v: int) -> DataFrame:
        """Time travel: read table state as of commit `v` (VERSION AS OF).
        Each version is a complete copy-on-write snapshot directory, so any
        historical read is a plain parquet scan — no log replay."""
        if table not in self._backing:
            raise KeyError(f"table {table!r} is not version-backed")
        cur = self._version[table]
        lo = self._first_version.get(table, 0)
        if not lo <= v <= cur:
            raise KeyError(
                f"version {v} out of range [{lo}, {cur}] for {table!r}"
                + (" (expired by vacuum)" if v < lo else "")
            )
        return self.spark.read.parquet(f"{self._backing[table]}/v{v:06d}")

    def history(self, table: str) -> list[tuple[int, str]]:
        """(version, path) per commit, oldest first (SHOW VERSIONS)."""
        if table not in self._backing:
            raise KeyError(f"table {table!r} is not version-backed")
        wd = self._backing[table]
        lo = self._first_version.get(table, 0)
        return [(v, f"{wd}/v{v:06d}") for v in range(lo, self._version[table] + 1)]

    def backed(self, table: str) -> bool:
        return table in self._backing

    def changes(self, table: str, v_from: int, v_to: int) -> DataFrame:
        """CDC read between two committed versions — the Delta Change Data
        Feed shape: the table's columns plus `_change_type` in
        {'insert', 'delete', 'update_preimage', 'update_postimage'} and
        `_commit_version` attributing each change to the commit that
        produced it (adjacent snapshot pairs are diffed independently, so
        attribution needs no log replay).

        File-pruned: commit_where hard-links unchanged part-files into the
        new version, and a file present in both snapshots under the same
        (name, inode) is byte-identical — those files are skipped, so each
        pair diff reads only the rewritten files. After a selective DML on
        a 100 TB table, the CDC scan costs the changed data, not the table.

        With declared keys (key-unique tables), a key present on both
        sides with differing rows becomes an update_preimage/postimage
        pair and identical rows drop out; without keys the diff is the
        multiset EXCEPT ALL both ways (inserts + deletes only)."""
        if table not in self._backing:
            raise KeyError(f"table {table!r} is not version-backed")
        cur = self._version[table]
        lo = self._first_version.get(table, 0)
        if not (lo <= v_from <= v_to <= cur):
            raise KeyError(
                f"version range [{v_from}, {v_to}] invalid for {table!r}"
                f" (available [{lo}, {cur}])"
            )
        base = self.version_of(table, v_from).limit(0)
        empty = base.select(
            "*",
            F.lit("").alias("_change_type"),
            F.lit(0).cast("int").alias("_commit_version"),
        )
        out = empty
        pending = 0
        for v in range(v_from + 1, v_to + 1):
            d = self._diff_adjacent(table, v - 1, v)
            out = out.unionByName(
                d.select("*", F.lit(v).cast("int").alias("_commit_version"))
            )
            pending += 1
            if pending >= self._CDC_UNION_BATCH:
                # Bound the plan: one union branch per commit is fine for
                # tens of commits but a 10k-commit range would hand the
                # driver a 10k-way union to analyze. Every BATCH commits,
                # cut lineage by materializing the accumulated feed to
                # executor block storage — the final plan is a union of at
                # most BATCH live branches plus checkpoint scans. (Local
                # checkpoints don't survive executor loss; a feed being
                # tailed durably should use follow_changes, which lands
                # each commit as its own sink partition instead.)
                out = out.localCheckpoint(eager=True)
                pending = 0
        return out

    def optimize(self, table: str, zorder_cols: list[str] | None = None,
                 target_mb: float = 128) -> int:
        """Layout rewrite as a COW commit — Delta's OPTIMIZE [ZORDER BY]:
        the current snapshot is compacted (and optionally Morton-code
        clustered, operators/maintenance.zorder_compact) into the NEXT
        version; rows are identical, so time travel spans the rewrite
        and a CDC read across it is an EMPTY diff (the keyed diff drops
        identical rows — data did not change, only layout). Returns the
        output file count."""
        from dataux_spark.operators.maintenance import compact, zorder_compact

        if table not in self._backing:
            raise KeyError(f"table {table!r} is not version-backed")
        wd = self._backing[table]
        src = f"{wd}/v{self._version[table]:06d}"
        v = self._version[table] + 1
        dst = f"{wd}/v{v:06d}"
        if zorder_cols:
            n = zorder_compact(self.spark, src, dst, zorder_cols, target_mb)
        else:
            n = compact(self.spark, src, dst, target_mb)
        # layout-only marker: every file was rewritten under a new name,
        # so the hard-link pruning in _diff_adjacent cannot see that the
        # DATA is unchanged — without the marker a CDC read across this
        # commit would full-outer-join the whole table against itself to
        # produce a provably empty diff
        with open(f"{dst}/_layout_only", "w"):
            pass
        self._version[table] = v
        self.spark.read.parquet(dst).createOrReplaceTempView(table)
        return n

    def shallow_clone(self, table: str, new_table: str,
                      workdir: str | None = None) -> None:
        """Zero-copy table clone — Delta's SHALLOW CLONE on the COW
        store: the new table's version 0 is the source's CURRENT
        snapshot, materialized as hard links (no data movement, O(files)
        driver work; on an object store, manifest references). The clone
        then evolves independently: its commits write its own workdir,
        and vacuum on either side is safe because links share inodes —
        deleting one table's version dirs never touches bytes the other
        still references. The instant-dev-copy / experiment-branch
        primitive a 100 TB table needs."""
        import os

        if table not in self._backing:
            raise KeyError(f"table {table!r} is not version-backed")
        if workdir is None:
            workdir = f"{self._backing[table]}__clone_{new_table}"
        if new_table in self._backing or os.path.exists(f"{workdir}/v000000"):
            raise ValueError(
                f"clone target {new_table!r} already exists"
            )
        src = f"{self._backing[table]}/v{self._version[table]:06d}"
        dst = f"{workdir}/v000000"
        os.makedirs(dst, exist_ok=True)
        for name in os.listdir(src):
            if name.startswith("part-") and not name.endswith(".crc"):
                os.link(f"{src}/{name}", f"{dst}/{name}")
        self._backing[new_table] = workdir
        self._version[new_table] = 0
        if table in self._keys:
            self._keys[new_table] = list(self._keys[table])
        self.spark.read.parquet(dst).createOrReplaceTempView(new_table)

    def restore(self, table: str, v: int) -> int:
        """Delta's RESTORE TABLE … TO VERSION AS OF v: make snapshot v
        the table's NEW current state by committing it forward — history
        is preserved (the restore IS a commit, so time travel still
        reaches everything between v and the pre-restore head, exactly
        Delta's behavior). Because snapshots are immutable part-file
        sets, the restore commit is O(files) hard links — never a data
        copy, even for a 100 TB table. A CDC read across the restore
        commit reports the honest row-level delta (the keyed diff of the
        pre-restore head vs the restored snapshot). Returns the new
        version number.

        The restore commit runs the constraint gate like every other
        commit: a snapshot that predates an ALTER TABLE ADD CONSTRAINT
        may violate rules added since, and restoring it would otherwise
        silently put the head into a constraint-violating state. The
        gate is free when the table has no constraints and one
        folded aggregate over snapshot v otherwise — the only commit
        kind where validation cannot ride a write pass, because restore
        writes nothing."""
        import os

        if table not in self._backing:
            raise KeyError(f"table {table!r} is not version-backed")
        cur = self._version[table]
        lo = self._first_version.get(table, 0)
        if not lo <= v <= cur:
            raise KeyError(
                f"version {v} out of range [{lo}, {cur}] for {table!r}"
                + (" (expired by vacuum)" if v < lo else "")
            )
        wd = self._backing[table]
        src, new_v = f"{wd}/v{v:06d}", cur + 1
        self._validate(table, self.spark.read.parquet(src))
        dst = f"{wd}/v{new_v:06d}"
        os.makedirs(dst, exist_ok=True)
        for name in os.listdir(src):
            if name.startswith("part-") and not name.endswith(".crc"):
                os.link(f"{src}/{name}", f"{dst}/{name}")
        self._version[table] = new_v
        self.spark.read.parquet(dst).createOrReplaceTempView(table)
        return new_v

    def vacuum(self, table: str, retain_last: int = 1) -> int:
        """Snapshot expiration — the VACUUM half of the COW lifecycle:
        delete all but the newest `retain_last` version directories.
        Safe against the file-pruned commits by construction: shared
        part-files are HARD LINKS, so removing an old version dir only
        drops one name — inodes still referenced by retained versions
        survive untouched (on an object store: delete objects owned by
        expired manifests only). Time travel to an expired version then
        raises; current reads and the CDC feed over retained versions
        are unaffected. Returns the number of versions removed."""
        import shutil

        if table not in self._backing:
            raise KeyError(f"table {table!r} is not version-backed")
        retain_last = max(1, retain_last)
        cur = self._version[table]
        first_kept = max(0, cur - retain_last + 1)
        wd = self._backing[table]
        removed = 0
        for v in range(first_kept):
            path = f"{wd}/v{v:06d}"
            import os

            if os.path.isdir(path):
                shutil.rmtree(path)
                removed += 1
        self._first_version[table] = first_kept
        return removed

    def follow_changes(self, table: str, sink_dir: str) -> int:
        """Incremental CDC materialization — the change-feed follower a
        downstream consumer (search index, cache, replica) tails. Each
        call diffs only the commits since the persisted high-water mark
        and lands each commit's changes as its OWN
        `commit_version=<v>` partition of the sink, then advances the
        mark. Exactly-once by layout, not by lock: a crash between write
        and mark replays into mode("overwrite") of the same partition —
        the streaming_rollup_ingest replay contract. Cost per call is
        the file-pruned pair diffs of the new commits only; a follower
        polling a 100 TB table pays for changed data, never a snapshot.
        Returns the number of commits processed."""
        import json
        import os

        if table not in self._backing:
            raise KeyError(f"table {table!r} is not version-backed")
        cur = self._version[table]
        hwm_path = f"{sink_dir}/_hwm.json"
        last = -1
        if os.path.exists(hwm_path):
            with open(hwm_path) as f:
                last = json.load(f)["version"]
        if last < 0:
            last = 0  # version 0 is the initial snapshot, not a change
        floor = self._first_version.get(table, 0)
        if last < floor:
            # "fresh" must mean the sink holds NOTHING — a consumer that
            # crashed after writing commit partitions but before its
            # first hwm write is mid-run, not fresh, and seeding it at
            # the floor would leave a silent gap in its feed
            has_partitions = os.path.isdir(sink_dir) and any(
                name.startswith("commit_version=")
                for name in os.listdir(sink_dir)
            )
            if not os.path.exists(hwm_path) and not has_partitions:
                # FRESH consumer: it has consumed nothing, so its base
                # state is the oldest retained snapshot — seed at the
                # floor (version_of(floor) is readable) and feed from
                # there; only a sink that already holds commits behind
                # the floor has actually lost data
                last = floor
            else:
                # the commits (last, floor] no longer exist — silently
                # skipping them would lose changes, so the follower must
                # be reseeded from a full snapshot (the Delta CDF
                # contract when VACUUM outruns a consumer)
                raise KeyError(
                    f"change feed for {table!r} starts at version {floor} "
                    f"(earlier commits expired by vacuum); sink is at {last} "
                    "— reseed the consumer from a current snapshot"
                )
        for v in range(last + 1, cur + 1):
            (
                self._diff_adjacent(table, v - 1, v)
                .write.mode("overwrite")
                .parquet(f"{sink_dir}/commit_version={v}")
            )
        os.makedirs(sink_dir, exist_ok=True)
        with open(hwm_path, "w") as f:
            json.dump({"version": cur}, f)
        return cur - last

    def read_change_feed(self, sink_dir: str) -> DataFrame:
        """Read a follower sink back: all materialized commits, with
        `_commit_version` recovered from the partition directory (the
        dir key drops the underscore — `_`-prefixed paths are invisible
        to Spark's file listing)."""
        return (
            self.spark.read.option("basePath", sink_dir)
            .parquet(f"{sink_dir}/commit_version=*")
            .withColumnRenamed("commit_version", "_commit_version")
            .withColumn("_commit_version", F.col("_commit_version").cast("int"))
        )

    def _diff_adjacent(self, table: str, va: int, vb: int) -> DataFrame:
        """Diff two snapshots, skipping part-files shared by hard link."""
        import os

        wd = self._backing[table]
        da, db = f"{wd}/v{va:06d}", f"{wd}/v{vb:06d}"
        schema_src = self.spark.read.parquet(db).limit(0)
        empty_diff = schema_src.select("*", F.lit("").alias("_change_type"))
        if os.path.exists(f"{db}/_layout_only"):
            # OPTIMIZE commit: rows identical by construction, only the
            # file layout changed — empty diff at O(1), not a table-sized
            # join proving emptiness
            return empty_diff

        def parts(d):
            return {
                n: os.stat(f"{d}/{n}").st_ino
                for n in os.listdir(d)
                if n.startswith("part-") and not n.endswith(".crc")
            }
        pa, pb = parts(da), parts(db)
        shared = {n for n, ino in pa.items() if pb.get(n) == ino}
        only_a = sorted(set(pa) - shared)
        only_b = sorted(set(pb) - shared)
        if not only_a and not only_b:
            # no-op commit (e.g. a zero-match UPDATE hard-linked every
            # file through): empty diff — and short-circuiting also
            # avoids joining a frame to itself below (both fallbacks
            # would otherwise BE schema_src → ambiguous self-join)
            return empty_diff
        old = (self.spark.read.parquet(*[f"{da}/{n}" for n in only_a])
               if only_a else schema_src)
        new = (self.spark.read.parquet(*[f"{db}/{n}" for n in only_b])
               if only_b else schema_src)
        cols = schema_src.columns
        keys = self._keys.get(table)
        if keys and all(k in cols for k in keys):
            # presence markers, not key-isNotNull: a legitimately-NULL key
            # column must not read as "absent" on a matched side
            o = old.withColumn("__op", F.lit(1)).alias("__o")
            n = new.withColumn("__np", F.lit(1)).alias("__n")
            cond = None
            for k in keys:
                c = o[k].eqNullSafe(n[k])
                cond = c if cond is None else (cond & c)
            j = o.join(n, cond, "full_outer")
            o_any, n_any = o["__op"].isNotNull(), n["__np"].isNotNull()
            o_row = F.struct(*[o[c] for c in cols])
            n_row = F.struct(*[n[c] for c in cols])
            ins = j.filter(~o_any & n_any).select(
                *[n[c] for c in cols], F.lit("insert").alias("_change_type"))
            dele = j.filter(o_any & ~n_any).select(
                *[o[c] for c in cols], F.lit("delete").alias("_change_type"))
            upd = j.filter(o_any & n_any & ~o_row.eqNullSafe(n_row))
            pre = upd.select(*[o[c] for c in cols],
                             F.lit("update_preimage").alias("_change_type"))
            post = upd.select(*[n[c] for c in cols],
                              F.lit("update_postimage").alias("_change_type"))
            return ins.unionByName(dele).unionByName(pre).unionByName(post)
        ins = new.exceptAll(old).select(
            "*", F.lit("insert").alias("_change_type"))
        dele = old.exceptAll(new).select(
            "*", F.lit("delete").alias("_change_type"))
        return ins.unionByName(dele)

    def commit_where(self, table: str, where_sql: str, rewrite) -> None:
        """File-pruned copy-on-write commit — the Delta/Iceberg COW
        contract at file granularity: only the part-files that CONTAIN a
        row matching `where_sql` are rewritten (through `rewrite`, a
        DataFrame→DataFrame transform that must preserve non-matching
        rows itself, e.g. the CASE-WHEN update projection or the delete
        filter); every untouched file carries into the new version as a
        filesystem hard link. A selective UPDATE/DELETE on a 100 TB
        table therefore costs one predicate-pushed scan (row groups
        pruned by parquet min/max) plus a rewrite of the matched files —
        not a full-table rewrite. On an object store the links become
        server-side copies; with sort_cols compaction
        (maintenance.compact) clustering the predicate columns, the
        matched-file set approaches the matched-row set."""
        cur = self._scan_with_file(table)
        hit = self._hit_files(cur.filter(F.expr(where_sql)))
        self._cow_commit(table, hit, rewrite)

    def _current_path(self, table: str) -> str:
        return f"{self._backing[table]}/v{self._version[table]:06d}"

    def _scan_with_file(self, table: str) -> DataFrame:
        """Current-version scan carrying a `__file` column. The column is
        projected AT SCAN TIME because input_file_name() only resolves
        inside the stage that reads the file — evaluated after a join
        boundary it silently returns '' (the matched-file set would read
        as empty and a pruned commit would drop the mutation)."""
        return self.spark.read.parquet(self._current_path(table)).withColumn(
            "__file", F.input_file_name()
        )

    @staticmethod
    def _hit_files(matched: DataFrame) -> set[str]:
        """Distinct part-file basenames of `matched`'s `__file` column
        (from _scan_with_file; filters/joins downstream of the scan are
        fine). The collect is a file-name set — O(files), never O(rows)."""
        import os
        from urllib.parse import urlparse

        return {
            os.path.basename(urlparse(r[0]).path)
            for r in matched.select("__file").distinct().collect()
        }

    def _cow_commit(self, table: str, hit: set[str], rewrite,
                    append_df: DataFrame | None = None) -> None:
        """Shared copy-on-write commit: hard-link every part-file NOT in
        `hit` into the next version, rewrite the hit files through
        `rewrite`, then append `append_df` (new rows with no source file,
        e.g. MERGE inserts). `append_df` must be built against the
        CURRENT version — it is evaluated while the old view still
        stands."""
        import os

        wd = self._backing[table]
        src = self._current_path(table)
        # constraint gate FIRST — before any file of the new version
        # exists, so a rejected commit leaves no partial state (costs one
        # extra pass over only the rewritten/appended frames; untouched
        # hard-linked files were validated by the commits that wrote them)
        sub = (
            self.spark.read.parquet(*[f"{src}/{n}" for n in sorted(hit)])
            if hit else None
        )
        if sub is not None:
            self._validate(table, rewrite(sub))
        if append_df is not None:
            self._validate(table, append_df)
        v = self._version[table] + 1
        dst = f"{wd}/v{v:06d}"
        os.makedirs(dst, exist_ok=True)
        kept = []
        for name in os.listdir(src):
            if name.startswith("part-") and not name.endswith(".crc") and name not in hit:
                os.link(f"{src}/{name}", f"{dst}/{name}")
                kept.append(name)
        wrote = False
        if sub is not None:
            rewrite(sub).write.mode("append").parquet(dst)
            wrote = True
        if append_df is not None:
            append_df.write.mode("append").parquet(dst)
            wrote = True
        if not kept and not wrote:  # empty table edge: keep the dir readable
            self.spark.read.parquet(src).limit(0).write.mode("append").parquet(dst)
        self._version[table] = v
        self.spark.read.parquet(dst).createOrReplaceTempView(table)

    def commit(self, table: str, df: DataFrame) -> None:
        self._validate(table, df)
        if table in self._backing:
            v = self._version[table] + 1
            path = f"{self._backing[table]}/v{v:06d}"
            df.write.mode("overwrite").parquet(path)  # executor-side write
            self._version[table] = v
            self.spark.read.parquet(path).createOrReplaceTempView(table)
            return
        # in-memory: materialize before re-registering (the new plan reads
        # the old view — re-registering without a barrier would self-refer)
        local_frame(self.spark, df.collect(), df.schema).createOrReplaceTempView(table)


def target_table(sql: str) -> str | None:
    """Target table of a DML statement — the engine uses it to route the
    statement to the owning registered source's mutator (reference: the
    planner resolves the mutation target's backend before building the
    mutator, schema.ConnMutation.CreateMutator contract)."""
    for rx, gi in (
        (_INSERT_RE, 2),
        (_INSERT_SELECT_RE, 2),
        (_UPDATE_RE, 1),
        (_MERGE_RE, 1),
        (_DELETE_RE, 1),
    ):
        m = rx.match(sql)
        if m:
            return m.group(gi)
    return None


def execute_source_dml(spark: SparkSession, source, table: str, sql: str,
                       select_runner=None, keys: list[str] | None = None) -> DmlResult:
    """Execute DML against a table OWNED by a registered source, through
    that source's mutator (reference: every mutable backend exposes
    schema.ConnMutation.CreateMutator → Put/Delete/DeleteExpression;
    cassandra sql_to_cql.go:236-394, datastore's read-modify-write UPDATE
    sql_to_datastore.go:218-382). INSERT/UPSERT → put (upsert keyed by the
    declared keys, else the first insert column — the Put-by-key contract);
    DELETE → delete_where; UPDATE → engine read-modify-write + overwrite."""
    mut = source.mutator(spark, table)
    if mut is None:
        raise ValueError(
            f"table {table!r} is read-only: source {source.name!r} does not accept writes"
        )
    m = _INSERT_RE.match(sql)
    if m:
        cols = [c.strip().strip("`") for c in m.group(3).split(",")]
        values = _values_df(spark, cols, m.group(4).strip())
        target = source.load(spark, table)
        # an EMPTIED doc collection infers a zero-column schema — aligning
        # to it would silently drop every inserted value; the VALUES frame
        # itself re-seeds the schema in that case
        batch = _align(values, target) if target.columns else values
        upsert = m.group(1).upper() == "UPSERT"
        return DmlResult(mut.put(batch, (keys or [cols[0]]) if upsert else None))
    m = _INSERT_SELECT_RE.match(sql)
    if m:
        batch, first = _resolve_select_batch(
            spark, m, source.load(spark, table), select_runner
        )
        upsert = m.group(1).upper() == "UPSERT"
        return DmlResult(mut.put(batch, (keys or [first]) if upsert else None))
    m = _UPDATE_RE.match(sql)
    if m:
        set_clause, where = m.group(2), m.group(3)
        # TWO fresh relations: the affected-count scan pushes the WHERE
        # filter into its Python-DataSource scan; reusing that relation
        # for the full-table projection would replay the baked filter and
        # overwrite the table with only the matching rows (the scan-cache
        # trap, per-statement edition)
        base = source.load(spark, table)
        if not base.columns:  # emptied collection: nothing to update
            return DmlResult(0)
        affected = base.filter(F.expr(where)).count() if where else base.count()
        mut.overwrite(_update_projection(source.load(spark, table), set_clause, where))
        return DmlResult(affected)
    m = _DELETE_RE.match(sql)
    if m:
        where = m.group(2)
        return DmlResult(mut.delete_where(F.expr(where) if where else None))
    raise ValueError(f"unsupported DML against source table {table!r}: {sql[:80]}")


def execute_dml(spark: SparkSession, store: TableStore, sql: str,
                select_runner=None) -> DmlResult:
    """select_runner: optional callable(str) -> DataFrame used to resolve
    the embedded SELECT of INSERT INTO ... SELECT. The Engine passes its
    _select so the row source goes through _refresh_pushdown_views and the
    pushdown negotiation — raw spark.sql() would silently reuse a cached
    relation with a previous query's pushed filters baked in when reading
    a fresh_scan_per_query source (Mongo/ES/Cassandra/Datastore tiers)."""
    m = _INSERT_RE.match(sql)
    if m:
        return _insert(spark, store, m, upsert=m.group(1).upper() == "UPSERT")
    m = _INSERT_SELECT_RE.match(sql)
    if m:
        return _insert_select(spark, store, m, upsert=m.group(1).upper() == "UPSERT",
                              select_runner=select_runner)
    m = _UPDATE_RE.match(sql)
    if m:
        return _update(spark, store, m)
    m = _MERGE_RE.match(sql)
    if m:
        return _merge(spark, store, m)
    m = _DELETE_RE.match(sql)
    if m:
        return _delete(spark, store, m)
    raise ValueError(f"unsupported DML statement: {sql[:80]}")


def _values_df(spark: SparkSession, cols: list[str], values_sql: str) -> DataFrame:
    aliased = ", ".join(f"`{c}`" for c in cols)
    return spark.sql(f"SELECT * FROM VALUES {values_sql} AS v({aliased})")


def _align(new: DataFrame, target: DataFrame) -> DataFrame:
    """Schema-align an insert batch to the target table (missing → NULL),
    mirroring the reference's sparse-column zero-fill
    (frontends/mysqlfe/results_mysql.go:171-198)."""
    out_cols = []
    for f in target.schema.fields:
        if f.name in new.columns:
            out_cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            out_cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return new.select(*out_cols)


def _commit_insert(store: TableStore, table: str, batch: DataFrame, upsert: bool,
                   default_key: str) -> DmlResult:
    target = store.current(table)
    n = batch.count()
    if upsert:
        keys = store.keys(table) or [default_key]
        target = target.join(batch.select(*keys), on=keys, how="left_anti")
    store.commit(table, target.unionByName(batch))
    return DmlResult(n)


def _insert(spark, store: TableStore, m, upsert: bool) -> DmlResult:
    table = m.group(2)
    cols = [c.strip().strip("`") for c in m.group(3).split(",")]
    batch = _align(_values_df(spark, cols, m.group(4).strip()), store.current(table))
    return _commit_insert(store, table, batch, upsert, cols[0])


def _resolve_select_batch(spark, m, target_df, select_runner=None):
    """Resolve an INSERT ... SELECT's row source into a target-aligned
    batch — shared by the TableStore and source-mutator paths so the
    column-list/count/alignment rules can never drift apart. With an
    explicit column list the select's columns map positionally; without
    one they map by name; either way the batch is schema-aligned to the
    target (missing → NULL). The select runs through the engine's full
    SELECT path when a runner is provided (stale-pushed-filter refresh,
    dialect macros, pushdown; the engine passes final=False so a
    backend's default page cap never truncates the row source).
    Returns (batch, upsert_key_col)."""
    run = select_runner if select_runner is not None else spark.sql
    sel = run(m.group(4))
    if m.group(3):
        cols = [c.strip().strip("`") for c in m.group(3).split(",")]
        if len(cols) != len(sel.columns):
            raise ValueError(
                f"INSERT column count {len(cols)} != SELECT column count {len(sel.columns)}"
            )
        sel = sel.toDF(*cols)
    # an EMPTIED doc collection infers a zero-column target — aligning to
    # it would drop every inserted value (same guard as the VALUES path);
    # the select's own schema re-seeds the collection
    batch = _align(sel, target_df) if target_df.columns else sel
    return batch, sel.columns[0]


def _insert_select(spark, store: TableStore, m, upsert: bool,
                   select_runner=None) -> DmlResult:
    """INSERT INTO t [(cols)] SELECT ... — the batch comes from a full
    engine query instead of a VALUES list (classic ETL append; reference
    DML semantics SURVEY §3.3 with the select-plan as the row source)."""
    table = m.group(2)
    batch, first = _resolve_select_batch(spark, m, store.current(table), select_runner)
    return _commit_insert(store, table, batch, upsert, first)


def _update_projection(df: DataFrame, set_clause: str, where: str | None) -> DataFrame:
    """The SET-applied-under-WHERE projection over the current state — the
    read-modify-write core shared by the TableStore path and the
    source-mutator path. Pure projection: pushes NO filter, so it is safe
    on Python-DataSource scans (a filtered count on the same relation
    would bake its pushed filter into the cached scan)."""
    cond = F.expr(where) if where else F.lit(True)
    assignments = {}
    for part in _split_top_level(set_clause):
        col, expr = part.split("=", 1)
        assignments[col.strip().strip("`")] = expr.strip()
    out_cols = []
    for f in df.schema.fields:
        if f.name in assignments:
            new_val = F.expr(assignments[f.name]).cast(f.dataType)
            out_cols.append(F.when(cond, new_val).otherwise(F.col(f.name)).alias(f.name))
        else:
            out_cols.append(F.col(f.name))
    return df.select(*out_cols)


def _update(spark, store: TableStore, m) -> DmlResult:
    table, set_clause, where = m.group(1), m.group(2), m.group(3)
    df = store.current(table)
    affected = df.filter(F.expr(where)).count() if where else df.count()
    if where and store.backed(table):
        # file-pruned COW: rewrite only part-files holding matched rows;
        # the CASE-WHEN projection preserves non-matching rows within them
        store.commit_where(
            table, where, lambda sub: _update_projection(sub, set_clause, where)
        )
    else:
        store.commit(table, _update_projection(df, set_clause, where))
    return DmlResult(affected)


def _merge(spark, store: TableStore, m) -> DmlResult:
    """MERGE INTO target USING source ON cond — Delta's full clause
    grammar: any number of ordered WHEN MATCHED [AND cond] THEN UPDATE
    SET …/DELETE and WHEN NOT MATCHED [AND cond] THEN INSERT …/INSERT *
    clauses, first-match-wins per row (a matched row takes the FIRST
    matched clause whose condition holds, or carries unchanged if none;
    an unmatched source row inserts through the first not-matched clause
    whose condition holds, or is dropped). Executed as the classic
    join-rewrite:
      matched   = target ⋈ source → per-column CASE chains over the
                  ordered clause conditions (DELETE clauses become a
                  filter on the same chain)
      unmatched = target anti-join source (kept as-is)
      inserts   = source anti-join target → clause-chained projection
    One keyed shuffle per leg; exactly the plan Delta generates.
    Affected = updated + deleted + inserted. Beyond-reference extension
    (reference stops at UPSERT-by-key, SURVEY §3.3).

    Parquet-backed targets take Delta's two-phase pruned path instead of a
    full-table rewrite: phase 1 semi-joins the target scan against the
    source on the ON condition and collects input_file_name() — the set of
    part-files holding ANY matched row (a superset of the affected rows;
    clause conditions are applied by the rewrite itself); phase 2 rewrites
    only those files, appends the insert leg, and hard-links every
    untouched file into the new version. A selective MERGE on a 100 TB
    table costs one pushed-down semi-join plus a rewrite of the matched
    files — the same contract commit_where gives UPDATE/DELETE."""
    target_name, talias, source_name, salias, cond, clause_text = m.groups()
    talias = talias or target_name
    salias = salias or source_name
    target = store.current(target_name).alias(talias)
    source = store.current(source_name).alias(salias)
    on = F.expr(cond)
    tcols = store.current(target_name).schema.fields
    src_cols = set(store.current(source_name).columns)

    # ---- parse the ordered clause list
    matched_clauses = []      # (cond_expr|None, assignments|None for DELETE)
    not_matched_clauses = []  # (cond_expr|None, insert_sel column list)
    spans = []
    for cm in _MERGE_CLAUSE_RE.finditer(clause_text):
        spans.append(cm.span())
        neg, ccond, setc, delete_kw, ins_cols, ins_vals, ins_star = cm.groups()
        if neg:
            if setc or delete_kw:
                raise ValueError("MERGE: WHEN NOT MATCHED supports INSERT only")
            if ins_star or ins_cols is None:  # INSERT *
                sel = [
                    F.col(f"{salias}.{f.name}").cast(f.dataType).alias(f.name)
                    if f.name in src_cols
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in tcols
                ]
            else:
                vmap = dict(zip(
                    [c.strip().strip("`") for c in ins_cols.split(",")],
                    _split_top_level(ins_vals),
                ))
                sel = [
                    F.expr(vmap[f.name]).cast(f.dataType).alias(f.name)
                    if f.name in vmap
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in tcols
                ]
            not_matched_clauses.append((ccond, sel))
        else:
            if ins_cols is not None or ins_star:
                raise ValueError("MERGE: WHEN MATCHED supports UPDATE/DELETE only")
            if delete_kw:
                matched_clauses.append((ccond, None))
            else:
                assignments = {}
                for part in _split_top_level(setc):
                    col, expr = part.split("=", 1)
                    assignments[col.strip().strip("`").split(".")[-1]] = expr.strip()
                matched_clauses.append((ccond, assignments))
    parsed = "".join(clause_text[a:b] for a, b in spans)
    if not spans or len(parsed.strip()) != len(clause_text.strip()):
        raise ValueError(f"unsupported MERGE clause list: {clause_text[:120]}")

    # ---- first-match-wins machinery over the matched join
    def _chain_conditions():
        """Yield (applicable, is_delete, assignments) per clause, where
        `applicable` = this clause's condition AND no earlier clause
        fired — evaluated against the (target ⋈ source) row."""
        prev = F.lit(False)
        for ccond, assignments in matched_clauses:
            c = F.expr(ccond) if ccond else F.lit(True)
            yield (c & ~prev), assignments is None, assignments
            prev = prev | c

    def matched_transform(t_frame):
        """target ⋈ source → delete-filter + per-column CASE projection.
        Rows matching no clause condition carry unchanged (they still
        live in a rewritten file on the pruned path). A multi-matched
        row can only reach this projection UNFIRED (the guard below
        errors when any clause would modify a multi-matched row — the
        Delta contract), and an unfired row projects to the same carried
        target columns through every matching pair, so the per-row-id
        dedup at the end is deterministic and restores exactly one copy.
        monotonically_increasing_id is consistent because the tag and
        the dedup live in the same single query."""
        t2 = t_frame.withColumn(
            "__t_row", F.monotonically_increasing_id()
        ).alias(talias)
        j = t2.join(source, on, "inner")
        delete_cond = F.lit(False)
        col_chain = {f.name: None for f in tcols}
        for applicable, is_delete, assignments in _chain_conditions():
            if is_delete:
                delete_cond = delete_cond | applicable
                continue
            for name, expr in assignments.items():
                prevc = col_chain[name]
                col_chain[name] = (
                    F.when(applicable, F.expr(expr)) if prevc is None
                    else prevc.when(applicable, F.expr(expr))
                )
        return (
            j.filter(~delete_cond)
            .select(
                F.col(f"{talias}.__t_row").alias("__t_row"),
                *[
                    (col_chain[f.name].otherwise(F.col(f"{talias}.{f.name}"))
                     .cast(f.dataType) if col_chain[f.name] is not None
                     else F.col(f"{talias}.{f.name}")).alias(f.name)
                    for f in tcols
                ],
            )
            .dropDuplicates(["__t_row"])
            .drop("__t_row")
        )

    def untouched_leg(t_frame):
        return t_frame.join(source, on, "left_anti").select(
            *[F.col(f"{talias}.{f.name}") for f in tcols]
        )

    # ---- affected counts + multi-match guard, ONE pass over the matched
    # join: group the (target ⋈ source) pairs by a per-target-row id and
    # take max(match count) alongside the updated/deleted flags. Delta's
    # contract, exactly: raise ONLY when several source rows match a
    # target row that some clause WOULD MODIFY (update or delete fires
    # for at least one pair) — the result would be nondeterministic
    # (which pair's assignment wins? counted deleted by one pair yet
    # carried by another?). A multi-matched row no clause touches is
    # legal; matched_transform dedups its carried copies by row id.
    # monotonically_increasing_id is consistent here because the tag and
    # the groupBy live in the same single query.
    if matched_clauses:
        t_tagged = store.current(target_name).withColumn(
            "__t_row", F.monotonically_increasing_id()
        ).alias(talias)
        delete_any, update_any = F.lit(False), F.lit(False)
        for applicable, is_delete, _assignments in _chain_conditions():
            if is_delete:
                delete_any = delete_any | applicable
            else:
                update_any = update_any | applicable
        counted = (
            t_tagged.join(source, on, "inner")
            .groupBy("__t_row")
            .agg(
                F.count(F.lit(1)).alias("m"),
                F.max(update_any.cast("long")).alias("u"),
                F.max(delete_any.cast("long")).alias("d"),
            )
            .select(
                F.sum("u").alias("u"),
                F.sum("d").alias("d"),
                # max match count among MODIFIED rows only — an unfired
                # multi-match is legal (Delta) and dedup'd on rewrite
                F.max(
                    F.when((F.col("u") == 1) | (F.col("d") == 1), F.col("m"))
                    .otherwise(F.lit(0))
                ).alias("mm"),
            )
            .collect()[0]
        )
        if (counted.mm or 0) > 1:
            raise ValueError(
                "MERGE: multiple source rows matched the same target row "
                f"in {target_name!r} (up to {counted.mm} matches) that a "
                "WHEN MATCHED clause would modify — the result would be "
                "nondeterministic. Deduplicate the source on the ON keys "
                "first (e.g. GROUP BY or row_number() = 1)."
            )
        n_updated = int(counted.u or 0)
        n_deleted = int(counted.d or 0)
    else:
        n_updated = n_deleted = 0

    # ---- insert leg: first-match-wins over the not-matched clauses
    unmatched_src = source.join(target, on, "left_anti")
    if not_matched_clauses:
        insert_any = F.lit(False)
        ins_chain = [None] * len(tcols)
        prev = F.lit(False)
        for ccond, sel in not_matched_clauses:
            c = F.expr(ccond) if ccond else F.lit(True)
            applicable = c & ~prev
            prev = prev | c
            insert_any = insert_any | applicable
            for i, col_expr in enumerate(sel):
                ins_chain[i] = (
                    F.when(applicable, col_expr) if ins_chain[i] is None
                    else ins_chain[i].when(applicable, col_expr)
                )
        inserts = unmatched_src.filter(insert_any).select(
            *[ch.otherwise(F.lit(None)).cast(f.dataType).alias(f.name)
              for ch, f in zip(ins_chain, tcols)]
        )
        n_inserts = inserts.count()
    else:
        inserts, n_inserts = None, 0

    # Insert-only MERGE (no WHEN MATCHED clause) never rewrites a target
    # row, so the matched join is skipped entirely — multi-matches are
    # legal there (Delta's contract: the guard above applies only when a
    # clause could modify the multiply-matched row).
    if store.backed(target_name):
        if matched_clauses:
            # phase 1: part-files holding any matched target row (semi-join
            # so multi-match source rows can't duplicate rows; __file is
            # projected at scan time — input_file_name() is '' past a join
            # boundary)
            tscan = store._scan_with_file(target_name).alias(talias)
            hit = store._hit_files(tscan.join(source, on, "left_semi"))
        else:
            hit = set()  # pure append: every existing file hard-links
        store._cow_commit(
            target_name,
            hit,
            # phase 2: within the hit files only — matched rows through the
            # clause chain, co-resident unmatched rows carried as-is
            lambda sub: matched_transform(sub.alias(talias)).unionByName(
                untouched_leg(sub.alias(talias))
            ),
            append_df=inserts if n_inserts else None,
        )
    else:
        if matched_clauses:
            out = untouched_leg(target).unionByName(matched_transform(target))
        else:
            out = target.select(*[F.col(f"{talias}.{f.name}") for f in tcols])
        if inserts is not None:
            out = out.unionByName(inserts)
        store.commit(target_name, out)
    return DmlResult(n_updated + n_deleted + n_inserts)


def _delete(spark, store: TableStore, m) -> DmlResult:
    table, where = m.group(1), m.group(2)
    df = store.current(table)
    if not where:
        n = df.count()
        store.commit(table, df.limit(0))
        return DmlResult(n)
    cond = F.expr(where)
    n = df.filter(cond).count()
    if store.backed(table):
        # file-pruned COW: untouched files link into the new version
        store.commit_where(
            table, where, lambda sub: sub.filter(~F.expr(where) | F.expr(where).isNull())
        )
    else:
        store.commit(table, df.filter(~cond | cond.isNull()))
    return DmlResult(n)
