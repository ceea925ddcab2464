"""Atomic-commit primitives for the transactional lake, pluggable per
storage system.

``TransactionalLake`` (tx_lake.py) needs exactly three guarantees from
storage, mirroring what the reference gets for free from Mongo's
document-level atomicity (storage/mongo_repository.go:33-75):

1. **publish(key, payload)** — full-object replace where a concurrent
   reader sees the old payload or the new one, never a mix or a
   missing file (the ``_CURRENT`` pointer swap).
2. **create_exclusive(key, payload)** — exactly one of N concurrent
   callers succeeds (the version claim).
3. **remove_exclusive(key, token)** — exactly one of N concurrent
   callers removes THE OBJECT GENERATION NAMED BY ``token`` (from a
   prior :meth:`observe`). The fence matters: a taker that observed a
   stale claim must not be able to delete a claim the winner has
   already re-created under the same name — removal is by identity
   (POSIX inode+mtime, object-store ETag), not by name.

POSIX filesystems (and HDFS) provide all three natively:
``os.replace`` / atomic rename, ``O_CREAT|O_EXCL``, and single-winner
``os.rename`` to a unique tombstone name. That is
:class:`PosixCommitBackend` — the default, used by every local/HDFS
lake.

Object stores have no rename, so the same contract maps to
conditional writes (S3 supports both forms since 2024; GCS has
generation preconditions, Azure has ETag If-Match):

- publish       → plain ``PUT`` (single-key PUT is atomic: GETs see
                  the complete old or complete new object)
- create_exclusive → ``PUT`` with ``If-None-Match: *`` (HTTP 412 ⇒ lost)
- observe       → ``HEAD`` (age from Last-Modified, token = ETag)
- remove_exclusive → ``PUT`` tombstone payload with ``If-Match:
                  <observed ETag>`` (412 ⇒ someone else already took
                  it over or re-created it), then ``DELETE``

:class:`ObjectStoreCommitBackend` implements that mapping against a
minimal client protocol (``put``/``head``/``get``/``delete`` with
precondition kwargs) so the protocol logic is unit-testable without
any cloud SDK in this environment; wiring a real boto3/gcs client in
is writing a ~20-line adapter, not changing the protocol.
"""

from __future__ import annotations

import os
import time
import uuid


class PreconditionFailed(Exception):
    """Object-store conditional write lost (HTTP 412 analogue)."""


class PosixCommitBackend:
    """Atomic primitives via POSIX rename/O_EXCL. Also correct on
    HDFS-style filesystems with atomic rename."""

    def publish(self, key: str, payload: str) -> None:
        tmp = f"{key}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, key)  # atomic on POSIX

    def create_exclusive(self, key: str, payload: str) -> bool:
        # the first claim of a lake creates its manifest dir
        os.makedirs(os.path.dirname(key), exist_ok=True)
        try:
            fd = os.open(key, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "w", encoding="utf-8") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        return True

    def observe(self, key: str):
        """(age_seconds, fencing token) of the object, or None if it
        does not exist. The token names this exact file generation."""
        try:
            st = os.stat(key)
        except FileNotFoundError:
            return None
        return (time.time() - st.st_mtime, (st.st_ino, st.st_mtime_ns))

    def remove_exclusive(self, key: str, token=None) -> bool:
        """Single-winner, identity-fenced removal: rename to a unique
        tombstone (atomic, exactly one caller's rename succeeds), then
        verify the tombstone IS the generation ``token`` named. A
        plain ``os.remove`` would double-race: two takeover attempts
        could each remove once, the second deleting the first's
        freshly re-created claim; even rename-by-name can grab a
        re-created file, so on token mismatch the rename is undone
        via ``os.link`` (which, unlike rename, refuses to clobber a
        newer claim) and the caller loses."""
        if token is not None:
            obs = self.observe(key)
            if obs is None or obs[1] != token:
                return False
        tombstone = f"{key}.stale.{uuid.uuid4().hex}"
        try:
            os.rename(key, tombstone)
        except FileNotFoundError:
            return False
        if token is not None:
            st = os.stat(tombstone)
            if (st.st_ino, st.st_mtime_ns) != token:
                # Grabbed a newer generation — restore and lose.
                try:
                    os.link(tombstone, key)
                except FileExistsError:
                    pass
                os.remove(tombstone)
                return False
        os.remove(tombstone)
        return True

    def read(self, key: str) -> str:
        with open(key, encoding="utf-8") as fh:
            return fh.read()

    def exists(self, key: str) -> bool:
        return os.path.exists(key)


class ObjectStoreCommitBackend:
    """The same contract over conditional PUTs (S3 / GCS / Azure).

    ``client`` must provide:

    - ``put(key, payload, if_none_match=False, if_match=None) -> etag``
      raising :class:`PreconditionFailed` on a lost condition
    - ``head(key) -> {"etag": str, "last_modified": float}`` or None
    - ``get(key) -> str`` (raises FileNotFoundError if absent)
    - ``delete(key) -> None`` (idempotent)
    """

    def __init__(self, client) -> None:
        self.client = client

    def publish(self, key: str, payload: str) -> None:
        # Single-key PUT is atomic on S3/GCS: no reader ever observes
        # a partial object, which is all the pointer swap needs.
        self.client.put(key, payload)

    def create_exclusive(self, key: str, payload: str) -> bool:
        try:
            self.client.put(key, payload, if_none_match=True)
            return True
        except PreconditionFailed:
            return False

    def observe(self, key: str):
        meta = self.client.head(key)
        if meta is None:
            return None
        return (time.time() - meta["last_modified"], meta["etag"])

    def remove_exclusive(self, key: str, token=None) -> bool:
        if token is None:
            meta = self.client.head(key)
            if meta is None:
                return False
            token = meta["etag"]
        try:
            # If-Match fences on the exact object generation observed
            # as stale: if the claim was taken over or re-created (new
            # ETag), this caller loses — exactly one winner.
            self.client.put(key, "__tombstone__", if_match=token)
        except PreconditionFailed:
            return False
        self.client.delete(key)
        return True

    def read(self, key: str) -> str:
        return self.client.get(key)

    def exists(self, key: str) -> bool:
        return self.client.head(key) is not None
