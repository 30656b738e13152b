"""ACID commit protocol: snapshot CAS + conflict re-check + retry.

Mirrors paimon-core FileStoreCommitImpl.java — protocol comment
:109-126 ("Before committing, we will first check for conflicts by
checking if all files to be removed currently exists"), retry loop
``tryCommit`` :687-703. Commit is single-threaded on the driver (the
coordinator), identical to the reference's coordinator-side commit;
data writing happened in executors beforehand.
"""

from __future__ import annotations

import time

from flink_table_store_spark.manifest import (
    KIND_ADD,
    KIND_DELETE,
    ManifestEntry,
    ManifestManager,
)
from flink_table_store_spark.snapshot import (
    COMMIT_APPEND,
    COMMIT_OVERWRITE,
    Snapshot,
    SnapshotManager,
    now_millis,
)


class CommitConflictError(RuntimeError):
    pass


class FileStoreCommit:
    def __init__(
        self,
        table_path: str,
        max_retries: int = 10,
        branch: str | None = None,
        manifest_merge_min_count: int = 30,
    ):
        self.snapshots = SnapshotManager(table_path, branch=branch)
        self.manifests = ManifestManager(table_path)
        self.max_retries = max_retries
        # fold threshold for incremental manifest inheritance (reference
        # CoreOptions `manifest.merge-min-count`): a commit reuses the
        # previous snapshot's manifest FILES untouched and only appends
        # its delta — O(delta) metadata per commit — until the manifest
        # count reaches this bound, then one commit pays the full fold
        self.manifest_merge_min_count = manifest_merge_min_count
        # Snapshot.java commitUser: one identity per committer instance;
        # `commit.user-prefix` customizes the prefix (Table wires it)
        import uuid as _uuid

        self.commit_user = f"spark-{_uuid.uuid4().hex[:12]}"
        # CAS-retry backoff bounds (commit.min-retry-wait /
        # commit.max-retry-wait, millis)
        self.min_retry_wait_ms = 10
        self.max_retry_wait_ms = 1000
        # post-commit callbacks (reference: CommitCallback implementations
        # such as IcebergCommitCallback); fired once per committed snapshot
        self.callbacks: list = []

    def commit(
        self,
        entries: list[ManifestEntry],
        schema_id: int,
        kind: str = COMMIT_APPEND,
        commit_identifier: str = "",
        watermark: int | None = None,
        next_sequence: int | None = None,
        dv_files: list[str] | None = None,
        assign_row_ids: bool = False,
        changelog_files: list[str] | None = None,
        fold_manifests: bool = False,
        dv_row_count: int | None = None,
        dv_resolver=None,
        dv_buckets: dict[str, list[int]] | None = None,
    ) -> Snapshot:
        """Commit ADD/DELETE entries as a new snapshot. Retries on CAS
        loss; re-validates that DELETE-d files still exist (conflict
        check) each attempt.

        Manifest handling (ManifestCommittable semantics): the new base
        manifest LIST inherits the previous snapshot's manifest files
        verbatim plus its delta — per-commit metadata cost is O(delta),
        not O(table). When the inherited manifest count reaches
        ``manifest_merge_min_count`` (or ``fold_manifests`` forces it,
        CompactManifestProcedure), the commit folds everything into one
        consolidated base manifest."""
        if commit_identifier:
            # Idempotence for streaming sinks (foreachBatch re-runs): if a
            # snapshot with this identifier already exists, skip (T10).
            for sid in self.snapshots.snapshot_ids():
                snap = self.snapshots.load(sid)
                if snap.commit_identifier == commit_identifier:
                    return snap

        # row tracking: first_row_id ranges must be allocated against the
        # snapshot we actually commit on top of, so assignment (and the
        # delta manifest write) happens inside the CAS retry loop
        delta_manifest = (
            self.manifests.write_manifest(entries) if entries and not assign_row_ids else None
        )
        deleted_keys = {e.key() for e in entries if e.kind == KIND_DELETE}
        added = sum(e.row_count for e in entries if e.kind == KIND_ADD)
        removed = sum(e.row_count for e in entries if e.kind == KIND_DELETE)

        for _attempt in range(self.max_retries):
            latest = self.snapshots.latest()
            if dv_resolver is not None:
                # DV-replacing commits must derive the replacement set
                # from the snapshot they actually land on: a lost CAS
                # race against a concurrent DV commit would otherwise
                # silently drop that commit's DV files from the set.
                dv_files, dv_row_count, dv_buckets = dv_resolver(latest)
            if latest is None:
                base_list, prev_total, prev_seq, new_id = None, 0, 0, 1
            else:
                prev_manifests = self.manifests.read_manifest_list(
                    latest.base_manifest_list
                ) + self.manifests.read_manifest_list(latest.delta_manifest_list)
                if deleted_keys:
                    # conflict re-check needs the live set; only commits
                    # that delete files pay this read
                    base_entries = self.manifests.read_live_entries(
                        latest.base_manifest_list, latest.delta_manifest_list
                    )
                    live_keys = {e.key() for e in base_entries}
                    missing = deleted_keys - live_keys
                    if missing:
                        raise CommitConflictError(
                            f"files deleted by this commit no longer exist: {sorted(missing)[:3]}"
                        )
                if fold_manifests or len(prev_manifests) >= self.manifest_merge_min_count:
                    if not deleted_keys:
                        base_entries = self.manifests.read_live_entries(
                            latest.base_manifest_list, latest.delta_manifest_list
                        )
                    base_list = (
                        self.manifests.write_manifest_list(
                            [self.manifests.write_manifest(base_entries)]
                        )
                        if base_entries
                        else None
                    )
                else:
                    # inherit previous manifest FILES untouched; only the
                    # (tiny) list file is rewritten
                    base_list = (
                        self.manifests.write_manifest_list(prev_manifests)
                        if prev_manifests
                        else None
                    )
                prev_total, prev_seq, new_id = (
                    latest.total_record_count,
                    latest.next_sequence,
                    latest.id + 1,
                )

            prev_row_id = latest.next_row_id if latest is not None else 0
            new_row_id = prev_row_id
            if assign_row_ids and entries:
                # (re)assign on every attempt — a lost CAS race moves the
                # range start to the new latest snapshot's high-water mark
                for e in entries:
                    # patch files (data evolution) reference existing
                    # ids — they are never row-id sources
                    if e.kind == KIND_ADD and not e.patch_cols:
                        e.first_row_id = new_row_id
                        new_row_id += e.row_count
                delta_manifest = self.manifests.write_manifest(entries)

            delta_list = (
                self.manifests.write_manifest_list([delta_manifest]) if delta_manifest else None
            )
            snap = Snapshot(
                id=new_id,
                schema_id=schema_id,
                base_manifest_list=base_list,
                delta_manifest_list=delta_list,
                commit_kind=kind,
                commit_identifier=commit_identifier,
                commit_user=self.commit_user,
                time_millis=now_millis(),
                total_record_count=prev_total + added - removed,
                delta_record_count=added - removed,
                watermark=watermark,
                next_sequence=max(prev_seq, next_sequence or 0),
                # None = carry the previous snapshot's deletion vectors
                # forward (stale entries for rewritten files never match
                # the fresh file names, so carrying them is safe)
                dv_files=(
                    dv_files
                    if dv_files is not None
                    else (latest.dv_files if latest is not None else [])
                ),
                next_row_id=new_row_id,
                changelog_files=changelog_files or [],
                # carry the previous count only when the commit neither
                # replaces the DV set nor deletes files (a removed file's
                # DV rows go stale and would overcount)
                dv_row_count=(
                    dv_row_count
                    if dv_files is not None
                    else (
                        latest.dv_row_count
                        if latest is not None and not deleted_keys
                        else None
                    )
                ),
                # coverage follows the DV set: explicit when the commit
                # replaces it; otherwise inherited, restricted to files
                # still in the set. A replacing commit that supplies no
                # coverage keeps whatever was known for surviving files.
                dv_buckets=(
                    dv_buckets
                    if dv_buckets is not None
                    else (
                        {}
                        if latest is None
                        else {
                            n: latest.dv_buckets[n]
                            for n in (
                                dv_files if dv_files is not None else latest.dv_files
                            )
                            if n in latest.dv_buckets
                        }
                    )
                ),
            )
            if self.snapshots.try_commit(snap):
                for cb in self.callbacks:
                    # The snapshot is already durably committed: a callback
                    # failure (e.g. Iceberg export IO error) must not
                    # propagate, or a retrying caller would duplicate data.
                    # Exports are regenerable via export_iceberg().
                    try:
                        cb(snap)
                    except Exception as exc:  # pragma: no cover - defensive
                        import warnings

                        warnings.warn(
                            f"post-commit callback {cb!r} failed after snapshot "
                            f"{snap.id} committed: {exc}"
                        )
                return snap
            # lost the CAS race — exponential backoff inside the
            # configured bounds, then re-plan against the new latest
            wait = min(
                self.min_retry_wait_ms * (2 ** _attempt), self.max_retry_wait_ms
            )
            time.sleep(wait / 1000.0)
        raise CommitConflictError(f"commit failed after {self.max_retries} retries")

    def commit_overwrite(
        self,
        new_entries: list[ManifestEntry],
        schema_id: int,
        partition_filter,
    ) -> Snapshot:
        """INSERT OVERWRITE: DELETE all live files whose partition matches
        ``partition_filter`` (a Predicate or None = whole table), ADD new.
        (reference: PaimonDynamicPartitionOverwriteCommand, commit kind
        OVERWRITE)."""
        latest = self.snapshots.latest()
        deletes: list[ManifestEntry] = []
        if latest is not None:
            for e in self.manifests.read_live_entries(
                latest.base_manifest_list, latest.delta_manifest_list
            ):
                if partition_filter is None or partition_filter.test_partition(e.partition):
                    d = ManifestEntry(**{**e.__dict__})
                    d.kind = KIND_DELETE
                    deletes.append(d)
        return self.commit(deletes + new_entries, schema_id, kind=COMMIT_OVERWRITE)
