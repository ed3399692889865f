"""Multi-table atomic transactions: one catalog ref over many LakeTables.

A CDC fan-out (cdc/router.py) merges one wire batch into N tables, each
exactly-once behind its own LSN ledger — but the N commits land one at a
time, so a reader joining table A (already committed) with table B (not
yet) observes a TORN cross-table state even though each table alone is
consistent.  This module closes that gap the way Iceberg REST catalogs
and Nessie do: table commits stay per-table, and a separate CATALOG ref
— a tiny versioned file mapping ``table name -> pinned table version`` —
is the only thing cross-table readers resolve through.  A transaction
merges into any number of tables (their heads advance, invisible to
catalog readers), then publishes ONE atomic catalog commit flipping all
pins together.

Guarantees, and why they hold on a real cluster:

- **Cross-table snapshot isolation for catalog readers.**  ``read``
  pins every table at the version recorded in one immutable catalog
  commit.  Immutable table manifests + immutable data files (the
  LakeTable model) make any pinned version readable forever (until
  ``expire_snapshots``), so a catalog version is a durable, consistent
  cross-table snapshot — which also gives *cross-table time travel*
  (``catalog_version=`` on any read).
- **Atomic publish.**  The catalog commit is one small JSON written
  with the same durability order as every table commit (contents
  fsync'd, O_EXCL arbitration token, pointer ``os.replace``, directory
  fsync).  On object stores this maps to the conditional-PUT /
  rename-if-absent primitive every Iceberg catalog already relies on;
  the payload is O(tables), never O(data).
- **Exactly-once across crash + retry.**  Table merges inside a
  transaction are durable when they commit; if the writer dies before
  ``commit()``, catalog readers still see the old pins (no torn state),
  and re-running the SAME transaction re-merges the same batches — each
  table's LSN ledger no-ops them — then publishes.  The end state is
  identical whether the first attempt published or the retry did.
- **Optimistic concurrency.**  Publishing CASes on the catalog base
  version via an O_EXCL token (``_catalog/txn/main-<base>``, the same
  protocol as LakeTable._commit).  A loser refreshes and re-publishes:
  its own touched tables re-pin at their (durable) heads, tables it
  never touched re-pin at whatever the new base says — two transactions
  over disjoint tables serialize without interfering.

Scale shape: the catalog file is a name->version map — bytes
proportional to the table count, independent of data volume; publish is
one fsync'd rename.  Readers add one tiny JSON read per query plan.

Reference analog: the reference writes its cBioPortal staging tables
(patient / sample / timeline) one file at a time per run with no
cross-file consistency point (reference
pipeline/lib/summary/summary_config_processor.py:373-419 registers each
table independently); a half-finished run leaves a mixed generation on
disk.  Here the mixed generation is invisible until the single publish.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from cdm_cbioportal_etl_spark.lake.table import LakeTable, MergeStats, _fsync_write

__all__ = ["CatalogConflictError", "LakeCatalog", "MultiTableTransaction"]

_NAME_RE = r"[A-Za-z_][A-Za-z0-9_.-]*"


class CatalogConflictError(RuntimeError):
    """Another writer advanced the catalog past this publisher's base."""


class LakeCatalog:
    """A versioned ``name -> (table root, pinned version)`` map with
    atomic multi-table publish — the cross-table consistency ref."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._meta = os.path.join(root, "_catalog")
        self._snap: dict[str, Any] | None = None
        self._handles: dict[str, LakeTable] = {}

    # ------------------------------------------------------------------ #
    # plumbing
    # ------------------------------------------------------------------ #
    @classmethod
    def create(cls, spark: SparkSession, root: str) -> "LakeCatalog":
        cat = cls(spark, root)
        if os.path.exists(os.path.join(cat._meta, "VERSION")):
            raise ValueError(f"catalog already exists at {root}")
        os.makedirs(cat._meta, exist_ok=True)
        cat._publish({}, base=None, lineage={"operation": "create"})
        return cat

    @classmethod
    def exists(cls, root: str) -> bool:
        return os.path.exists(os.path.join(root, "_catalog", "VERSION"))

    def _cat_path(self, version: int) -> str:
        return os.path.join(self._meta, f"cat-{version:08d}.json")

    @property
    def snapshot(self) -> dict[str, Any]:
        if self._snap is None:
            self.refresh()
        assert self._snap is not None
        return self._snap

    @property
    def version(self) -> int:
        return int(self.snapshot["version"])

    def refresh(self) -> None:
        with open(os.path.join(self._meta, "VERSION")) as fh:
            v = int(fh.read().strip())
        with open(self._cat_path(v)) as fh:
            self._snap = json.load(fh)

    def snapshot_at(self, catalog_version: int) -> dict[str, Any]:
        try:
            with open(self._cat_path(int(catalog_version))) as fh:
                return json.load(fh)
        except FileNotFoundError:
            raise ValueError(
                f"no catalog version {catalog_version} at {self.root}"
            ) from None

    # ------------------------------------------------------------------ #
    # membership
    # ------------------------------------------------------------------ #
    def attach(
        self, name: str, table: LakeTable, version: int | None = None
    ) -> int:
        """Register ``table`` under ``name``, pinned at ``version``
        (default: its current head).  One catalog commit."""
        import re

        if not re.fullmatch(_NAME_RE, name):
            raise ValueError(f"invalid table name: {name!r}")
        pin = int(version if version is not None else table.snapshot["version"])
        tables = dict(self.snapshot["tables"])
        tables[name] = {"root": os.path.abspath(table.root), "version": pin}
        self._handles[name] = table
        return self._publish(
            tables, base=self.version,
            lineage={"operation": "attach", "table": name, "pinned": pin},
        )

    def detach(self, name: str) -> int:
        tables = dict(self.snapshot["tables"])
        if name not in tables:
            raise ValueError(f"table {name!r} not in catalog {self.root}")
        del tables[name]
        self._handles.pop(name, None)
        return self._publish(
            tables, base=self.version,
            lineage={"operation": "detach", "table": name},
        )

    def table(self, name: str) -> LakeTable:
        """The LIVE table handle (head state, ledger and all) — writes go
        here; catalog-consistent reads go through ``read``."""
        if name not in self._handles:
            entry = self.snapshot["tables"].get(name)
            if entry is None:
                raise ValueError(
                    f"table {name!r} not in catalog {self.root} "
                    f"(have: {sorted(self.snapshot['tables'])})"
                )
            self._handles[name] = LakeTable(self.spark, entry["root"])
        return self._handles[name]

    def pins(self, catalog_version: int | None = None) -> dict[str, int]:
        snap = (
            self.snapshot
            if catalog_version is None
            else self.snapshot_at(catalog_version)
        )
        return {n: int(e["version"]) for n, e in snap["tables"].items()}

    # ------------------------------------------------------------------ #
    # tags + timestamp resolution (named / temporal cross-table cuts)
    # ------------------------------------------------------------------ #
    def tag(self, name: str, version: int | None = None) -> int:
        """Name a catalog version (default: current) as an immutable
        cross-table cut — Iceberg's tag, spanning EVERY member table at
        once.  Tagged cuts survive ``expire`` regardless of age."""
        import re

        if not re.fullmatch(_NAME_RE, name):
            raise ValueError(f"invalid tag name: {name!r}")
        v = int(version if version is not None else self.version)
        self.snapshot_at(v)  # must exist
        tags = dict(self.snapshot.get("tags", {}))
        if name in tags:
            raise ValueError(
                f"tag {name!r} already names catalog version {tags[name]} "
                "— tags are immutable; untag first"
            )
        tags[name] = v
        return self._publish(
            dict(self.snapshot["tables"]), base=self.version,
            lineage={"operation": "tag", "tag": name, "at": v}, tags=tags,
        )

    def untag(self, name: str) -> int:
        tags = dict(self.snapshot.get("tags", {}))
        if name not in tags:
            raise ValueError(f"no tag {name!r} (have: {sorted(tags)})")
        del tags[name]
        return self._publish(
            dict(self.snapshot["tables"]), base=self.version,
            lineage={"operation": "untag", "tag": name}, tags=tags,
        )

    def tags(self) -> dict[str, int]:
        return {n: int(v) for n, v in self.snapshot.get("tags", {}).items()}

    def version_at(self, timestamp: float) -> int:
        """Largest catalog version committed at or before ``timestamp``
        (epoch seconds) — TIMESTAMP AS OF across every table at once.
        Only resolves within the retained (un-expired) chain."""
        v: int | None = self.version
        newest: int | None = None
        while v is not None:
            try:
                s = self.snapshot_at(v)
            except ValueError:
                break
            if float(s["committed_at"]) <= float(timestamp):
                newest = int(s["version"])
                break
            v = s.get("parent")
        if newest is None:
            raise ValueError(
                f"no retained catalog version at or before {timestamp}"
            )
        return newest

    # ------------------------------------------------------------------ #
    # reads — the whole point: every table at ONE catalog version
    # ------------------------------------------------------------------ #
    def read(
        self,
        name: str,
        catalog_version: int | None = None,
        tag: str | None = None,
        **read_kwargs: Any,
    ) -> DataFrame:
        if tag is not None:
            if catalog_version is not None:
                raise ValueError("pass catalog_version OR tag, not both")
            t = self.tags()
            if tag not in t:
                raise ValueError(f"no tag {tag!r} (have: {sorted(t)})")
            catalog_version = t[tag]
        snap = (
            self.snapshot
            if catalog_version is None
            else self.snapshot_at(catalog_version)
        )
        entry = snap["tables"].get(name)
        if entry is None:
            raise ValueError(
                f"table {name!r} not in catalog version "
                f"{snap['version']} (have: {sorted(snap['tables'])})"
            )
        return self.table(name).read(
            version=int(entry["version"]), **read_kwargs
        )

    # ------------------------------------------------------------------ #
    # publish (the atomic cross-table commit)
    # ------------------------------------------------------------------ #
    def _publish(
        self,
        tables: dict[str, dict[str, Any]],
        base: int | None,
        lineage: dict[str, Any],
        tags: dict[str, int] | None = None,
    ) -> int:
        """CAS one catalog commit on top of ``base``.  Token protocol =
        LakeTable._commit: of two publishers sharing a base, exactly one
        creates ``txn/main-<base>``; the loser never moved the pointer."""
        txn_dir = os.path.join(self._meta, "txn")
        os.makedirs(txn_dir, exist_ok=True)
        token = os.path.join(
            txn_dir, f"main-{'genesis' if base is None else base}"
        )
        try:
            tfd = os.open(token, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        except FileExistsError:
            raise CatalogConflictError(
                f"catalog at {self.root} was advanced past version {base} "
                f"by another publisher (or {token} is a crashed publisher's "
                "remnant if the pointer never moves).  Refresh and retry."
            ) from None
        version = 0 if base is None else base + 1
        if tags is None:  # tags ride the versioned state: carry forward
            tags = dict(self.snapshot.get("tags", {})) if base is not None \
                else {}
        snap = {
            "version": version,
            "parent": base,
            "committed_at": time.time(),
            "tables": tables,
            "tags": tags,
            "lineage": lineage,
        }
        path = self._cat_path(version)
        try:
            with open(path, "w") as fh:
                json.dump(snap, fh)
                fh.flush()
                os.fsync(fh.fileno())
            with os.fdopen(tfd, "w") as fh:
                fh.write(str(version))
            _fsync_write(os.path.join(self._meta, "VERSION"), str(version))
        except BaseException:
            for p in (path, token):
                try:
                    os.remove(p)
                except OSError:
                    pass
            raise
        self._snap = snap
        return version

    def transaction(self) -> "MultiTableTransaction":
        return MultiTableTransaction(self)

    # ------------------------------------------------------------------ #
    # cloning — fork the whole pipeline at one consistent cut
    # ------------------------------------------------------------------ #
    def clone(
        self,
        dest_root: str,
        catalog_version: int | None = None,
        tag: str | None = None,
        mode: str = "shallow",
    ) -> "LakeCatalog":
        """Fork EVERY member table at one consistent catalog cut into a
        new, independent catalog under ``dest_root`` — the multi-table
        extension of ``LakeTable.clone``.  ``mode="shallow"`` is
        metadata-only (milliseconds regardless of data volume: each
        member becomes a shallow table clone pinned at the cut's
        version); ``mode="deep"`` copies every referenced file.  The
        fork is the cheap "spin up a dev/backfill copy of the whole
        pipeline" primitive: member LSN ledgers carry over, so replaying
        already-applied WAL batches into the fork stays exactly-once,
        and the fork's catalog starts at its own genesis (one commit
        pinning every clone).  Same shallow-clone hazard as tables:
        ``localize()`` each member (or clone deep) before loosening the
        SOURCE tables' retention."""
        if tag is not None:
            if catalog_version is not None:
                raise ValueError("pass catalog_version OR tag, not both")
            t = self.tags()
            if tag not in t:
                raise ValueError(f"no tag {tag!r} (have: {sorted(t)})")
            catalog_version = t[tag]
        snap = (
            self.snapshot
            if catalog_version is None
            else self.snapshot_at(catalog_version)
        )
        if LakeCatalog.exists(os.path.join(dest_root, "catalog")):
            raise ValueError(f"catalog already exists under {dest_root}")
        clones: dict[str, LakeTable] = {}
        for name, e in snap["tables"].items():
            src = LakeTable(self.spark, e["root"])
            clones[name] = src.clone(
                os.path.join(dest_root, name),
                version=int(e["version"]),
                mode=mode,
            )
        new = LakeCatalog.create(
            self.spark, os.path.join(dest_root, "catalog")
        )
        for name, t_ in clones.items():
            new.attach(name, t_)
        return new

    # ------------------------------------------------------------------ #
    # retention — the consistency story's other half
    # ------------------------------------------------------------------ #
    def expire(
        self, keep_last: int = 5, table_keep_last: int = 1
    ) -> dict[str, Any]:
        """Coordinated retention: expire old catalog commits, then expire
        each member table PROTECTING every version still pinned by a
        retained catalog commit.  Without this coordination a bare
        ``table.expire_snapshots`` can reclaim a manifest the catalog
        still pins, silently breaking cross-table time travel; with it,
        every retained catalog version stays a readable consistent cut.

        ``keep_last`` newest catalog commits survive (along the parent
        chain); each table keeps its pinned versions plus its own newest
        ``table_keep_last``.  Returns per-table manifests removed."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        chain: list[dict[str, Any]] = []
        v: int | None = self.version
        while v is not None and len(chain) < keep_last:
            try:
                s = self.snapshot_at(v)
            except ValueError:
                break  # parent already reclaimed by an earlier expire
            chain.append(s)
            v = s.get("parent")
        # tagged cuts survive regardless of age (and their pins below)
        for tv in set(self.snapshot.get("tags", {}).values()):
            if int(tv) not in {int(s["version"]) for s in chain}:
                chain.append(self.snapshot_at(int(tv)))
        retained = {int(s["version"]) for s in chain}
        import re

        removed = 0
        for fn in sorted(os.listdir(self._meta)):
            m = re.fullmatch(r"cat-(\d{8})\.json", fn)
            if m and int(m.group(1)) not in retained:
                os.remove(os.path.join(self._meta, fn))
                removed += 1
        # tokens age out with their base commits (same rule as tables):
        # a token at base B only blocks publishers whose snapshot is B,
        # impossible once B's commit file is gone — but never the
        # current head's token (a publisher may be mid-CAS from it)
        txn_dir = os.path.join(self._meta, "txn")
        if os.path.isdir(txn_dir):
            for fn in os.listdir(txn_dir):
                m = re.search(r"-(\d+)\Z", fn)
                if m and int(m.group(1)) not in retained \
                        and int(m.group(1)) < self.version:
                    os.remove(os.path.join(txn_dir, fn))
        # per-table pins across every RETAINED catalog commit — a table
        # detached from the head but pinned by a retained older commit
        # still gets its versions protected
        pins: dict[str, tuple[str, set[int]]] = {}
        for s in chain:
            for n, e in s["tables"].items():
                root, vs = pins.setdefault(n, (e["root"], set()))
                vs.add(int(e["version"]))
        per_table: dict[str, int] = {}
        for n, (root, vs) in pins.items():
            t = self._handles.get(n)
            if t is None or os.path.abspath(t.root) != os.path.abspath(root):
                if not LakeTable.exists(root):
                    continue  # table dropped outright; nothing to expire
                t = LakeTable(self.spark, root)
            per_table[n] = t.expire_snapshots(
                keep_last=table_keep_last, protect=vs
            )
        return {"catalog_commits_removed": removed, "tables": per_table}

    # ------------------------------------------------------------------ #
    # inspection
    # ------------------------------------------------------------------ #
    def history(self) -> DataFrame:
        rows = []
        v = self.version
        while v is not None:
            try:
                s = self.snapshot_at(v)
            except ValueError:
                break  # older commits expired — history stops there
            rows.append(
                (
                    int(s["version"]),
                    float(s["committed_at"]),
                    str((s.get("lineage") or {}).get("operation", "publish")),
                    json.dumps(
                        {n: int(e["version"]) for n, e in s["tables"].items()},
                        sort_keys=True,
                    ),
                )
            )
            v = s.get("parent")
        return self.spark.createDataFrame(
            rows,
            "catalog_version int, committed_at double, "
            "operation string, pins string",
        )


class MultiTableTransaction:
    """Merge into any catalog tables, then publish all pins atomically.

    Table heads advance as each ``merge`` commits (durable immediately,
    invisible to catalog readers); ``commit()`` flips the catalog.  There
    is deliberately no ``abort``: un-published table commits are simply
    never pinned, and the LSN ledger makes re-running the same logical
    transaction converge — the recovery story IS the abort story."""

    def __init__(self, catalog: LakeCatalog):
        self.catalog = catalog
        self.base = catalog.version
        self._touched: dict[str, int] = {}
        self.stats: dict[str, MergeStats] = {}
        self._committed: int | None = None

    def merge(self, name: str, batch: DataFrame, **kwargs: Any) -> MergeStats:
        self._check_open()
        t = self.catalog.table(name)
        st = t.merge(batch, **kwargs)
        self._touched[name] = int(t.snapshot["version"])
        self.stats[name] = st
        return st

    def run(self, name: str, fn: Callable[[LakeTable], Any]) -> Any:
        """Any other table mutation (delete_where, evolve_schema, …)
        under the transaction's publish: the table's post-``fn`` head is
        what commit() pins."""
        self._check_open()
        t = self.catalog.table(name)
        out = fn(t)
        self._touched[name] = int(t.snapshot["version"])
        return out

    def _check_open(self) -> None:
        if self._committed is not None:
            raise RuntimeError(
                f"transaction already published catalog version "
                f"{self._committed}"
            )

    def commit(
        self, lineage: dict[str, Any] | None = None, max_retries: int = 8
    ) -> int:
        """Publish every touched table's head in one catalog commit.

        Conflict-safe without help: on a CAS loss the touched tables'
        merges are already durable, so the retry just recomputes pins on
        the new base (untouched tables keep the NEW base's pins — a
        concurrent disjoint transaction's publish is preserved)."""
        self._check_open()
        base = self.base
        attempt = 0
        while True:
            snap = (
                self.catalog.snapshot
                if self.catalog.version == base
                else self.catalog.snapshot_at(base)
            )
            tables = {n: dict(e) for n, e in snap["tables"].items()}
            for name, v in self._touched.items():
                if name not in tables:
                    raise ValueError(
                        f"table {name!r} was detached from the catalog "
                        "while this transaction ran"
                    )
                tables[name]["version"] = v
            try:
                self._committed = self.catalog._publish(
                    tables,
                    base=base,
                    lineage={
                        "operation": "txn",
                        "touched": sorted(self._touched),
                        **(lineage or {}),
                    },
                )
                return self._committed
            except CatalogConflictError:
                attempt += 1
                if attempt > max_retries:
                    raise
                # The token owner may legitimately be BETWEEN token
                # creation and the pointer swing (milliseconds) — wait
                # for the pointer to move before concluding the token is
                # a crashed publisher's remnant.  Patience bounded: a
                # truly dead owner never moves it, and that needs the
                # operator repair the error message describes.
                for _ in range(50):
                    self.catalog.refresh()
                    if self.catalog.version != base:
                        break
                    time.sleep(0.02)
                else:
                    raise  # pointer never moved: crashed-publisher remnant
                base = self.catalog.version
