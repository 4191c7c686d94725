"""Checkpoint manifest: per-partition lineage, rule versions, timing metrics —
resumable runs (BASELINE.json:6,14).

The manifest is an append-only journal, ``<checkpoint>/<run_id>/manifest.jsonl``:
one JSON ``PartitionRecord`` per line, the last line of a partition wins. A
save appends only the records changed since the last load or save and
fsyncs once, so its cost is O(new records), not O(history). Load drops a
torn final line (no trailing newline: a crash mid-append) and truncates it
away before anything is appended; any other malformed line means start
clean. A journal holding more than twice as many lines as live records is
compacted on load (tmp + fsync + os.replace), so each record costs O(1)
amortised. A legacy ``manifest.json`` is read when no journal exists; the
first save writes the full journal and removes it.

Resume = set-difference of partition keys whose recorded rule-version
fingerprint matches the current ruleset; bumping any rule's version or params
invalidates exactly the partitions validated under the old fingerprint.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field

from lyra_spark.rules import RuleSet

MANIFEST_NAME = "manifest.jsonl"
LEGACY_MANIFEST_NAME = "manifest.json"
# compact on load once the journal holds more than this many lines per live record
COMPACT_RATIO = 2


@dataclass
class PartitionRecord:
    partition: str
    ruleset_fingerprint: str
    rows: int
    violations: int
    wall_ms: float
    completed_at: float
    snapshot_id: str | None = None  # Iceberg snapshot lineage in prod
    rule_versions: dict[str, str] = field(default_factory=dict)


@dataclass
class Manifest:
    run_id: str
    records: dict[str, PartitionRecord] = field(default_factory=dict)
    # partitions record() changed since the last load or save. None: the
    # journal does not hold this manifest (built in memory, started clean,
    # or read from a legacy file), so the next save writes every record.
    dirty: set[str] | None = field(default=None, repr=False, compare=False)

    def completed(self, ruleset: RuleSet) -> set[str]:
        fp = ruleset.fingerprint()
        return {k for k, r in self.records.items() if r.ruleset_fingerprint == fp}

    def pending(self, all_partitions: list[str], ruleset: RuleSet) -> list[str]:
        done = self.completed(ruleset)
        return [p for p in all_partitions if p not in done]

    def changed(
        self,
        ruleset: RuleSet,
        current_counts: dict[str, int],
        current_snapshot: str | None = None,
    ) -> set[str]:
        """Completed partitions whose DATA no longer matches what was
        validated. Detection precedence, per partition:

        1. When a current metadata count exists (parquet footers locally,
           Iceberg manifests in prod), a count that differs from the
           recorded one re-queues the partition. Counts are per-partition,
           so this is the FINE signal — and it deliberately wins over the
           snapshot id, because the snapshot is TABLE-level and bumps on
           every commit to any partition; snapshot-first would re-validate
           the whole table on each ingest.
        2. Only when no count is available does a moved snapshot id (both
           sides knowing one) re-queue the partition — the coarse fallback.

        Known limit: an in-place SAME-COUNT rewrite of a partition that
        still exposes metadata counts is not detected (its count matches and
        rule 1 short-circuits the snapshot comparison). Closing that needs a
        per-partition content signal — on Iceberg, the partition's data-file
        set/digests from the manifest — which this local layout cannot
        provide; callers who suspect such rewrites should bump the ruleset
        version or use a fresh run-id.

        This is the late-arriving-data half of resume: `pending()` alone
        would skip a partition forever once validated, silently leaving new
        rows unchecked.
        """
        fp = ruleset.fingerprint()
        out: set[str] = set()
        for pk, rec in self.records.items():
            if rec.ruleset_fingerprint != fp:
                continue  # already re-validated by the rule-version path
            if pk in current_counts:
                # per-partition counts are the finer signal: a table-level
                # snapshot bump (any Iceberg commit) must NOT re-validate
                # partitions whose counts prove them untouched
                if current_counts[pk] != rec.rows:
                    out.add(pk)
            elif (
                current_snapshot is not None
                and rec.snapshot_id is not None
                and current_snapshot != rec.snapshot_id
            ):
                out.add(pk)
        return out

    def record(
        self,
        partition: str,
        ruleset: RuleSet,
        rows: int,
        violations: int,
        wall_ms: float,
        snapshot_id: str | None = None,
    ) -> None:
        self.records[partition] = PartitionRecord(
            partition=partition,
            ruleset_fingerprint=ruleset.fingerprint(),
            rows=rows,
            violations=violations,
            wall_ms=wall_ms,
            completed_at=time.time(),
            snapshot_id=snapshot_id,
            rule_versions=ruleset.versions(),
        )
        if self.dirty is not None:
            self.dirty.add(partition)


def manifest_path(checkpoint_dir: str, run_id: str) -> str:
    return os.path.join(checkpoint_dir, run_id, MANIFEST_NAME)


def _line(rec: PartitionRecord) -> bytes:
    return (json.dumps(asdict(rec), sort_keys=True) + "\n").encode()


def _rewrite(path: str, records: dict[str, PartitionRecord]) -> None:
    """The whole journal, one line per live record: tmp + fsync + os.replace
    (POSIX-atomic within a filesystem), so a crash leaves the old file or
    the new one, never a mix."""
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(b"".join(_line(r) for r in records.values()))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _load_legacy(path: str, run_id: str) -> Manifest:
    try:
        with open(path) as f:
            raw = json.load(f)
        # record construction is inside the guard too: a schema-drifted
        # manifest (newer-version field, wrong top-level shape) is valid
        # JSON but still corrupt FOR THIS VERSION — the contract is
        # start-clean, never a crash on every resume
        records = {k: PartitionRecord(**v) for k, v in raw.get("records", {}).items()}
        return Manifest(run_id=raw.get("run_id", run_id), records=records)
    except (json.JSONDecodeError, OSError, TypeError, KeyError, AttributeError, ValueError):
        # corrupt manifest ⇒ start clean (forces full re-validation, never a crash)
        return Manifest(run_id=run_id)


def load_manifest(checkpoint_dir: str, run_id: str) -> Manifest:
    path = manifest_path(checkpoint_dir, run_id)
    if not os.path.exists(path):
        legacy = os.path.join(checkpoint_dir, run_id, LEGACY_MANIFEST_NAME)
        return _load_legacy(legacy, run_id) if os.path.exists(legacy) else Manifest(run_id=run_id)
    try:
        with open(path, "rb") as f:
            data = f.read()
        end = data.rfind(b"\n") + 1
        if end < len(data):
            # torn final line (a crash mid-append): cut it off now, or the
            # next append would join the torn bytes into a corrupt middle line
            with open(path, "r+b") as f:
                f.truncate(end)
                f.flush()
                os.fsync(f.fileno())
        lines = data[:end].splitlines()
        # one parse of the lines as a JSON array (faster than one per line);
        # a line holding two values shows as a count mismatch
        raw = json.loads(b"[" + b",".join(lines) + b"]")
        if len(raw) != len(lines):
            raise ValueError("a journal line holds more than one value")
        records: dict[str, PartitionRecord] = {}
        for v in raw:
            # a non-object line or a drifted field set raises TypeError
            rec = PartitionRecord(**v)
            records[rec.partition] = rec
    except (OSError, TypeError, ValueError):  # JSONDecodeError is a ValueError
        # corrupt journal ⇒ start clean (forces full re-validation, never a
        # crash); the next save rewrites the whole journal
        return Manifest(run_id=run_id)
    if len(lines) > COMPACT_RATIO * len(records):
        _rewrite(path, records)
    return Manifest(run_id=run_id, records=records, dirty=set())


def save_manifest(checkpoint_dir: str, m: Manifest) -> str:
    """Append the records changed since the last load or save, fsync once.
    A manifest the journal does not hold yet is written whole instead."""
    d = os.path.join(checkpoint_dir, m.run_id)
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, MANIFEST_NAME)
    if m.dirty is None:
        _rewrite(path, m.records)
        legacy = os.path.join(d, LEGACY_MANIFEST_NAME)
        if os.path.exists(legacy):
            os.remove(legacy)
    elif m.dirty:
        with open(path, "ab") as f:
            f.write(b"".join(_line(m.records[k]) for k in sorted(m.dirty)))
            f.flush()
            os.fsync(f.fileno())
    m.dirty = set()
    return path
