"""File catalog: versioned metadata JSON + version-hint CAS commit.

Re-creates moonlink's FileCatalog commit protocol (reference:
table/iceberg/file_catalog.rs:590-673 — write v{N}.metadata.json, then
conditionally update version-hint.text with an etag compare-and-swap). On a
POSIX filesystem the CAS is `open(path, "x")` on the versioned metadata file
(exclusive create = the conditional PUT) followed by an atomic rename of the
hint. Single-writer discipline per table matches moonlink's per-table event
loop (table_handler.rs event_loop); concurrent committers lose the CAS and
must retry on fresh state.

Every write to a table goes through one commit loop, FileCatalog.update: it
pins the metadata, lets the caller edit it (or build a complete file list
from it, MoonTable.commit_files), publishes it with the CAS, and retries
only a lost CAS, at most COMMIT_ATTEMPTS times.
"""

from __future__ import annotations

import os

from moonlink_spark.catalog.metadata import TableMetadata

# pins per commit before a run of lost CASes is given up as CommitConflict
COMMIT_ATTEMPTS = 5


class CommitConflict(Exception):
    """Another writer committed this version first (CAS failure)."""


class FileCatalog:
    def __init__(self, table_root: str):
        self.root = os.path.abspath(table_root)
        self.metadata_dir = os.path.join(self.root, "metadata")
        self.data_dir = os.path.join(self.root, "data")

    # -- layout ------------------------------------------------------------
    def ensure_dirs(self) -> None:
        os.makedirs(self.metadata_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    def _hint_path(self) -> str:
        return os.path.join(self.metadata_dir, "version-hint.text")

    def _meta_path(self, version: int) -> str:
        return os.path.join(self.metadata_dir, f"v{version}.metadata.json")

    # -- read --------------------------------------------------------------
    def current_version(self) -> int:
        try:
            with open(self._hint_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def exists(self) -> bool:
        return self.current_version() > 0

    def load(self, version: int | None = None) -> TableMetadata:
        v = version if version is not None else self.current_version()
        if v <= 0:
            raise FileNotFoundError(f"no committed metadata under {self.root}")
        with open(self._meta_path(v)) as f:
            return TableMetadata.from_json(f.read())

    def load_pinned(self) -> tuple[TableMetadata, int]:
        """Read the version hint FIRST, then load exactly that version.

        Only the commit loop (update) and MoonTable.commit_snapshot call
        this; not load() + current_version() as two independent reads: a
        commit landing between the two reads would pair NEWER version
        number with STALE metadata content, so the CAS succeeds while
        silently dropping the intervening commit — a parent-snapshot pin
        can't catch it because it is checked against the same stale load."""
        version = self.current_version()
        return self.load(version), version

    def metadata_versions(self) -> list[int]:
        out = []
        for name in os.listdir(self.metadata_dir):
            if name.startswith("v") and name.endswith(".metadata.json"):
                out.append(int(name[1 : -len(".metadata.json")]))
        return sorted(out)

    # -- commit (CAS) --------------------------------------------------------
    def update(self, edit, what: str, publish=None):
        """The one commit loop: pin, edit, publish; retry only a lost CAS.

        Each attempt pins the current metadata (load_pinned) and calls
        *edit(meta)*, which changes it in place and returns the caller's
        result. A refusal edit raises propagates at once, a CommitConflict
        included. An edit that leaves the metadata as it found it commits
        nothing; otherwise the change is CASed against the pinned version.
        With *publish*, edit instead returns what *publish(meta, built)*
        commits as a new version itself (MoonTable.commit_files), checked
        against the same pinned metadata edit saw. Only a CommitConflict
        from the CAS re-pins and retries, COMMIT_ATTEMPTS times in all;
        *what* names the write in the final error."""
        last: CommitConflict | None = None
        for _ in range(COMMIT_ATTEMPTS):
            meta, version = self.load_pinned()
            before = meta.to_json() if publish is None else None
            result = edit(meta)
            try:
                if publish is not None:
                    return publish(meta, result)
                if meta.to_json() != before:
                    self.commit(meta, expected_version=version)
                return result
            except CommitConflict as e:
                last = e
        raise CommitConflict(
            f"could not {what} after {COMMIT_ATTEMPTS} attempts: {last}"
        ) from last

    def commit(self, meta: TableMetadata, expected_version: int) -> int:
        """Commit *meta* as version expected_version+1.

        The exclusive create of v{N+1}.metadata.json is the compare-and-swap:
        if another writer already produced that version, we raise
        CommitConflict (mirrors file_catalog.rs:639-665 etag failure).
        """
        self.ensure_dirs()
        new_version = expected_version + 1
        path = self._meta_path(new_version)
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError as e:
            raise CommitConflict(
                f"version {new_version} already committed under {self.root}"
            ) from e
        try:
            with os.fdopen(fd, "w") as f:
                f.write(meta.to_json())
                f.flush()
                os.fsync(f.fileno())
        except Exception:
            os.unlink(path)
            raise
        # atomic hint flip (readers resolve the hint, then the version file)
        tmp = self._hint_path() + f".tmp.{new_version}"
        with open(tmp, "w") as f:
            f.write(str(new_version))
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._hint_path())
        return new_version
