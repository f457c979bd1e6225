"""Lease-based coordination.

Reference: ``internal/staging/leases`` — named, owned, expiring leases
stored in the staging database so exactly one replicator instance
drives a given table-group at a time.

Spark-first: leases are *driver-side* coordination (row data never
needs them). Each lease is a JSON file whose read-check-write runs
under ``artifact.locked`` on that file, the local[*] stand-in for the
staging-DB row's transaction. The API mirrors Acquire / Renew / Release
/ Singleton semantics.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from cdc_sink_spark.operators import artifact


class LeaseStore:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _file(self, name: str) -> str:
        return os.path.join(self.path, f"{name}.lease")

    def acquire(self, name: str, owner: str | None = None, duration_s: float = 60.0):
        """Try to acquire; returns a lease dict or None if held by a
        live owner (leases.Acquire)."""
        owner = owner or str(uuid.uuid4())
        f = self._file(name)
        with artifact.locked(f):
            cur = self._read(f)
            if cur and cur["expires"] > time.time() and cur["owner"] != owner:
                return None
            return self._write(f, name, owner, duration_s)

    def renew(self, lease: dict, duration_s: float = 60.0):
        f = self._file(lease["name"])
        with artifact.locked(f):
            cur = self._read(f)
            if not cur or cur["nonce"] != lease["nonce"]:
                return None  # lost the lease (leases.Renew -> expired)
            return self._write(f, lease["name"], lease["owner"], duration_s)

    def release(self, lease: dict) -> bool:
        f = self._file(lease["name"])
        with artifact.locked(f):
            cur = self._read(f)
            if cur and cur["nonce"] == lease["nonce"]:
                os.remove(f)
                return True
            return False

    def _write(self, f: str, name: str, owner: str, duration_s: float) -> dict:
        lease = {"name": name, "owner": owner, "expires": time.time() + duration_s,
                 "nonce": str(uuid.uuid4())}
        tmp = f + f".{lease['nonce']}"
        with open(tmp, "w") as fh:
            json.dump(lease, fh)
        os.replace(tmp, f)  # a crash mid-write never leaves a torn lease
        return lease

    def _read(self, f: str):
        try:
            with open(f) as fh:
                return json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError):
            return None
