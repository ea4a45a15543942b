"""Key rotation + selective re-encryption (reference
``keymanagement/.../KeyRotationServiceImpl.java`` and
``crypto/.../SelectiveReencCoordinator.java``, ``ReencryptionTracker.java``).

Forward security loop:
1. queries record the ids they decrypted ("touched", U2);
2. rotation mints a new key version;
3. touched points get re-encrypted under the newest key (J4), skipping
   rows already current (F5 ``key_version >= target``);
4. once the census (A8) shows no point bound to an old version, that key
   is safe to delete (F6) — deleting it makes previously-captured
   ciphertext snapshots undecryptable (the forward-security game).

The reference's in-memory ``ReencryptionTracker`` becomes an
accumulated union of id DataFrames, collected once at drain and
deduplicated on the driver.
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .aes import decrypt_vectors, encrypt_vectors


class TouchedTracker:
    """U2: distinct union of candidate ids decrypted across query batches
    (reference ``ReencryptionTracker.record/drainTouchedIds:23-41``)."""

    def __init__(self):
        self._acc: DataFrame | None = None

    def record(self, ids_df: DataFrame, id_col: str = "id") -> None:
        part = ids_df.select(F.col(id_col).alias("id"))
        self._acc = part if self._acc is None else self._acc.unionByName(part)

    def drain(self) -> pa.Table | None:
        """The distinct recorded ids as a one-column Arrow table, the id
        type kept, or None when nothing was recorded; resets the
        tracker.  One collect of the union, no shuffle: the
        deduplication runs on the driver.  A DataFrame built from the
        table broadcasts without a Python worker stage."""
        out, self._acc = self._acc, None
        if out is None:
            return None
        return pa.table({"id": out.toArrow().column("id").unique()})


def version_census(encrypted: DataFrame) -> DataFrame:
    """A8: (key_version, n_points) — migration safety check
    (reference ``RocksDBMetadataManager.countWithVersion:695-703``)."""
    return encrypted.groupBy("key_version").agg(F.count("*").alias("n_points"))


def reencrypt_touched(encrypted: DataFrame, touched: DataFrame,
                      keys_bc, target_version: int,
                      id_col: str = "id") -> DataFrame:
    """J4: new encrypted table with touched, stale rows re-encrypted under
    ``target_version`` (fresh IVs); untouched/current rows pass through.

    Plan: the untouched rows (anti-join) plus :func:`reencrypt_all` over
    the touched rows (semi-join) — the crypto kernels run only on the
    touched slice, no full-table crypto pass (the reference's "selective"
    property, ``KeyRotationServiceImpl.reencryptTouched:215-289``).  A
    semi-join never repeats a row, so ``touched`` may hold duplicates."""
    ids = touched.select(F.col(id_col).alias(id_col))
    migrated = reencrypt_all(encrypted.join(ids, on=id_col, how="left_semi"),
                             keys_bc, target_version, id_col=id_col)
    untouched = encrypted.join(ids, on=id_col, how="left_anti")
    return untouched.select(migrated.columns).unionByName(migrated)


def reencrypt_all(encrypted: DataFrame, keys_bc, target_version: int,
                  id_col: str = "id") -> DataFrame:
    """The package's one migration (J4 + F5): every row of ``encrypted``
    under a key version >= ``target_version``.  Stale rows
    (``key_version < target``) are decrypted under their recorded key
    (strict) and encrypted again under the target with fresh IVs; current
    rows pass through unchanged.  Over a whole store it is the full rotation
    (reference ``reEncryptAll:108-113``); :func:`reencrypt_touched` and
    the facade's delta store (``api.ForwardSecureANNSystem``) apply it to
    the touched slice only."""
    stale = encrypted.filter(F.col("key_version") < F.lit(target_version))
    current = encrypted.filter(F.col("key_version") >= F.lit(target_version))
    migrated = encrypt_vectors(
        decrypt_vectors(stale, keys_bc, mode="strict", id_col=id_col),
        keys_bc, target_version, id_col=id_col)
    return current.select(migrated.columns).unionByName(migrated)
