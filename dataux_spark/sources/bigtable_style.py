"""BigTable-style source — column families exposed as tables.

Reference: the bigtable backend makes each **column family a table** whose
`Parent` is the physical bigtable, inferring columns by reading ~10 rows,
and scans each family with a `FamilyFilter`
(/root/reference/backends/bigtable/source.go:186-274, scan at :205-235).

Spark-first: the physical table is a wide document listing whose cells are
keyed `family:qualifier`. Discovery (infer.infer_family_tables) samples a
fixed N rows — constant cost at any table size — and each family table is a
projection: rowkey + that family's qualifiers, rows limited to those with at
least one cell in the family (the FamilyFilter contract). Recomposing
families is a rowkey equi-join, which Spark plans as a broadcast/SMJ like
any other join; at 100 TB each family projection prunes to its own column
set before any shuffle.

SCAN_ONLY tier: like Kube/BigTable REST scans, every relational operator on
top is the engine's polyfill (Catalyst).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dataux_spark.infer import BT_SAMPLE_N, infer_family_tables
from dataux_spark.sources.base import (
    PushdownTier,
    Source,
    SourceMutator,
    bounded_rows,
)
from dataux_spark.sources.rest import _fetch_json
from dataux_spark.sqlutil import local_frame


class FamilyTableSource(Source):
    """name → {physical_table: url}; each discovered family becomes a table.

    Family tables are named after the family (reference semantics) with the
    physical table as `parent`; on cross-physical name collision the table
    is prefixed `<physical>_<family>`.
    """

    tier = PushdownTier.SCAN_ONLY
    default_limit = 5000
    # family views are local_frame snapshots of the in-memory row
    # store; re-register per query so DML through the mutator is
    # read-your-writes (the same refresh hook the pushdown tiers use
    # for scan-cache correctness — load() here is a cheap local build)
    fresh_scan_per_query = True

    def __init__(
        self,
        name: str,
        physical: dict[str, str],
        rowkey: str = "rowkey",
        sep: str = ":",
        sample_n: int = BT_SAMPLE_N,
    ):
        self.name = name
        self.rowkey = rowkey
        self.sep = sep
        self.physical = dict(physical)  # original endpoints, for dump_config
        # set by the mutators: a mutated source diverges from its fetch
        # URLs and becomes session-scoped for dump_config (see engine)
        self._mutated = False
        self._docs: dict[str, list[dict]] = {
            phys: _fetch_json(url) for phys, url in physical.items()
        }
        # discovery: sample N rows per physical table, one table per family
        self._tables: dict[str, tuple[str, str]] = {}  # table → (physical, family)
        self.parent: dict[str, str] = {}
        self._schemas = {}
        for phys, docs in self._docs.items():
            for fam, schema in infer_family_tables(
                docs, rowkey=rowkey, sep=sep, sample_n=sample_n
            ).items():
                tname = fam if fam not in self._tables else f"{phys}_{fam}"
                self._tables[tname] = (phys, fam)
                self.parent[tname] = phys
                self._schemas[tname] = schema

    def tables(self) -> list[str]:
        return list(self._tables)

    def load(self, spark: SparkSession, table: str) -> DataFrame:
        if table not in self._tables:
            raise KeyError(f"unknown table {table!r} in source {self.name!r}")
        phys, fam = self._tables[table]
        schema = self._schemas[table]
        prefix = f"{fam}{self.sep}"
        quals = [f.name for f in schema.fields[1:]]
        rows = [
            tuple([d.get(self.rowkey)] + [d.get(prefix + q) for q in quals])
            for d in self._docs[phys]
            # FamilyFilter: only rows with ≥1 cell in this family appear
            if any(k.startswith(prefix) for k in d)
        ]
        return local_frame(spark, rows, schema)

    # ------------------------------------------------------------- writes

    def writable(self) -> bool:
        # mutations land in the in-memory row store (the constructor's
        # fetched docs) — the same lifetime as the source registration,
        # like MemorySource
        return True

    def mutator(self, spark: SparkSession, table: str):
        """BigTable write semantics (reference sql_to_bt.go:242-396: every
        mutation is keyed by the ROW KEY — SetCell per non-key column into
        this family, DeleteRow for deletes). A family table's Put upserts
        family-qualified cells on the rowkey; a delete removes this
        family's cells from matching rows (FamilyFilter semantics: the row
        disappears from THIS family table, other families keep it), and
        rows left with no cells at all are dropped."""
        if table not in self._tables:
            return None
        return _BtMutator(self, table)


class _BtMutator(SourceMutator):
    def __init__(self, src: FamilyTableSource, table: str):
        self.src, self.table = src, table
        self.phys, self.fam = src._tables[table]
        self.prefix = f"{self.fam}{src.sep}"
        self.rowkey = src.rowkey

    def _fam_doc(self, row) -> dict:
        d = {self.rowkey: row[self.rowkey]}
        for k, v in row.asDict().items():
            if k != self.rowkey and v is not None:
                d[self.prefix + k] = v
        return d

    def put(self, batch, keys) -> int:
        # rowkey-keyed always — BigTable mutations address a row key;
        # existing cells of this family on that key are replaced, and a
        # rowkey repeated WITHIN the batch collapses last-write-wins
        new = [self._fam_doc(r) for r in bounded_rows(batch)]
        by_key = {d[self.rowkey]: d for d in new}
        affected = len(by_key)
        docs = self.src._docs[self.phys]
        merged = []
        for d in docs:
            k = d.get(self.rowkey)
            if k in by_key:
                kept = {c: v for c, v in d.items() if not c.startswith(self.prefix)}
                kept.update(by_key.pop(k))
                merged.append(kept)
            else:
                merged.append(d)
        merged.extend(by_key.values())
        self.src._mutated = True
        self.src._docs[self.phys] = merged
        # affected = distinct rowkeys actually mutated, not batch rows —
        # by_key collapses within-batch duplicates before any write
        return affected

    def delete_where(self, cond) -> int:
        # evaluate the predicate over the family table view with Spark so
        # three-valued logic matches the engine's exactly
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        view = self.src.load(spark, self.table)
        hit = view.filter(cond) if cond is not None else view
        hit_keys = {r[self.rowkey] for r in hit.select(self.rowkey).collect()}
        docs, out = self.src._docs[self.phys], []
        for d in docs:
            if d.get(self.rowkey) in hit_keys:
                kept = {c: v for c, v in d.items() if not c.startswith(self.prefix)}
                if len(kept) > 1:  # rowkey plus ≥1 cell from another family
                    out.append(kept)
            else:
                out.append(d)
        self.src._mutated = True
        self.src._docs[self.phys] = out
        return len(hit_keys)

    def overwrite(self, df) -> None:
        # strip only THIS family's cells from every physical row (sibling
        # families keep theirs); rows left with nothing but the key and no
        # replacement drop out of the store
        new = [self._fam_doc(r) for r in bounded_rows(df)]
        by_key = {d[self.rowkey]: d for d in new}
        merged = []
        for d in self.src._docs[self.phys]:
            kept = {c: v for c, v in d.items() if not c.startswith(self.prefix)}
            k = d.get(self.rowkey)
            if k in by_key:
                kept.update(by_key.pop(k))
            if len(kept) > 1:  # rowkey plus ≥1 cell from any family
                merged.append(kept)
        merged.extend(by_key.values())
        self.src._mutated = True
        self.src._docs[self.phys] = merged
