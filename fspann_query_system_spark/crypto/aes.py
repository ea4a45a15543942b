"""AES-GCM record encryption (reference
``crypto/.../AesGcmCryptoService.java:55-206``).

Spec:
- 12-byte random IV, 128-bit tag (reference constants ``:30-32``).
- payload = big-endian float64 vector bytes (``:240-283``).
- AAD binds identity: ``id:{id}|v:{key_version}|d:{dim}``
  (``EncryptedPoint.getAAD:80-83``) — decryption under a different
  id/version/dim fails authentication.
- decrypt uses exactly the key version recorded on the row; there is NO
  fallback to other versions (the forward-security no-fallback rule,
  ``AesGcmCryptoService.decryptFromPoint:137-152``).

Execution: Arrow-batched ``mapInPandas`` kernels; AESGCM calls are
per-row (the cipher API is scalar) but batch transfer + key lookup are
amortized.  Keys arrive as a broadcast {version: key} dict and never
appear in any column.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from cryptography.exceptions import InvalidTag
from cryptography.hazmat.primitives.ciphers.aead import AESGCM

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IV_LEN = 12


def _aad(point_id, key_version: int, dim: int) -> bytes:
    return f"id:{point_id}|v:{key_version}|d:{dim}".encode()


def vector_to_bytes(vec) -> bytes:
    return np.asarray(vec, dtype=">f8").tobytes()


def bytes_to_vector(buf: bytes) -> np.ndarray:
    return np.frombuffer(buf, dtype=">f8").astype(np.float64)


# ---------------------------------------------------------------------------
# driver-side single-record helpers (query tokens, tests)
# ---------------------------------------------------------------------------

def encrypt_record(key: bytes, point_id, key_version: int, vec,
                   iv: bytes | None = None) -> tuple[bytes, bytes]:
    """→ (iv, ciphertext).  Deterministic iff iv supplied (tests only)."""
    import secrets
    iv = iv if iv is not None else secrets.token_bytes(IV_LEN)
    dim = len(vec)
    ct = AESGCM(key).encrypt(iv, vector_to_bytes(vec), _aad(point_id, key_version, dim))
    return iv, ct


def decrypt_record(key: bytes, point_id, key_version: int, dim: int,
                   iv: bytes, ct: bytes) -> np.ndarray:
    data = AESGCM(key).decrypt(iv, ct, _aad(point_id, key_version, dim))
    return bytes_to_vector(data)


# ---------------------------------------------------------------------------
# DataFrame kernels
# ---------------------------------------------------------------------------

def encrypt_vectors(df: DataFrame, keys_bc, key_version: int,
                    id_col: str = "id", vector_col: str = "vector") -> DataFrame:
    """(id, vector) → encrypted_points rows
    (id, key_version, dim, iv, ciphertext)  [FIXTURES.md §4 schema], every
    row under ``key_version``: :func:`encrypt_vectors_versioned` over a
    constant version column.

    IVs are drawn from os.urandom per row (never reused across
    re-encryptions, matching the reference's fresh-IV rule)."""
    return encrypt_vectors_versioned(
        df.select(id_col, vector_col,
                  F.lit(key_version).cast("int").alias("_key_version")),
        keys_bc, "_key_version", id_col=id_col, vector_col=vector_col)


def encrypt_vectors_versioned(df: DataFrame, keys_bc, version_col: str,
                              id_col: str = "id",
                              vector_col: str = "vector") -> DataFrame:
    """Like :func:`encrypt_vectors` but the key version is a per-row column
    (the single-pass form of rotation-cadence encryption — one scan, no
    per-version slicing; mirrors the reference's per-batch
    ``rotateIfNeeded`` cadence, ``ForwardSecureANNSystem.java:531``)."""
    id_type = df.schema[id_col].dataType.simpleString()
    schema = (f"{id_col} {id_type}, key_version INT, dim INT, "
              f"iv BINARY, ciphertext BINARY")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import secrets
        from cryptography.hazmat.primitives.ciphers.aead import AESGCM as _AESGCM
        ciphers = {v: _AESGCM(k) for v, k in keys_bc.value.items()}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].tolist()
            vers = [int(v) for v in pdf[version_col]]
            ivs, cts, dims = [], [], []
            for pid, kv, vec in zip(ids, vers, pdf[vector_col]):
                iv = secrets.token_bytes(IV_LEN)
                dim = len(vec)
                cts.append(ciphers[kv].encrypt(iv, vector_to_bytes(vec),
                                               _aad(pid, kv, dim)))
                ivs.append(iv)
                dims.append(dim)
            yield pd.DataFrame({
                id_col: ids,
                "key_version": np.array(vers, dtype=np.int32),
                "dim": np.array(dims, dtype=np.int32),
                "iv": ivs,
                "ciphertext": cts,
            })

    return df.select(id_col, version_col, vector_col).mapInPandas(run, schema=schema)


def _decrypt_rows(pdf: pd.DataFrame, ciphers: dict, mode: str,
                  id_col: str) -> tuple[list, list]:
    """Decrypt one batch, each row under its recorded key_version →
    (plaintext buffers, positions of the rows they came from).  A row
    whose version has no cipher in ``ciphers`` or whose tag check fails
    raises with mode='strict' and is dropped with mode='skip' (the
    reference's decryptErr accounting, ``QueryServiceImpl.java:241-270``).
    The kernels pass ciphers built inside their closure: ``AESGCM``
    captured from this module's globals would be pickled by value and
    arrive on the workers without methods."""
    bufs, keep = [], []
    for i, (pid, kv, dim, iv, ct) in enumerate(zip(
            pdf[id_col], pdf["key_version"], pdf["dim"], pdf["iv"],
            pdf["ciphertext"])):
        aes = ciphers.get(int(kv))
        try:
            if aes is None:
                raise KeyError(f"no key for version {kv}")
            bufs.append(aes.decrypt(bytes(iv), bytes(ct),
                                    _aad(pid, int(kv), int(dim))))
            keep.append(i)
        except (InvalidTag, KeyError):
            if mode == "strict":
                raise
    return bufs, keep


def decrypt_vectors(df: DataFrame, keys_bc, mode: str = "strict",
                    id_col: str = "id", out_col: str = "vector") -> DataFrame:
    """Adds ``out_col ARRAY<DOUBLE>`` decrypted under each row's recorded
    key_version (C5).  mode='strict' raises on auth failure or a missing
    key version; mode='skip' drops those rows (:func:`_decrypt_rows`)."""
    in_cols = df.columns
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    out_schema += f", {out_col} ARRAY<DOUBLE>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from cryptography.hazmat.primitives.ciphers.aead import AESGCM as _AESGCM
        ciphers = {v: _AESGCM(k) for v, k in keys_bc.value.items()}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bufs, keep = _decrypt_rows(pdf, ciphers, mode, id_col)
            out = pdf.iloc[keep].copy() if len(keep) < len(pdf) else pdf.copy()
            out[out_col] = [bytes_to_vector(b).tolist() for b in bufs]
            yield out[in_cols + [out_col]]

    return df.mapInPandas(run, schema=out_schema)


def decrypt_score_vectors(df: DataFrame, keys_bc, mode: str = "strict",
                          id_col: str = "id", q_col: str = "_qvec",
                          out_col: str = "distance") -> DataFrame:
    """Fused decrypt + L2 score: one Arrow kernel decrypts each row
    under its recorded key_version AND computes the exact distance to
    the row's query vector — the plaintext never crosses the
    Python→JVM boundary (C5 + C1 in one stage).

    Motivation is the encrypted refine stage's profile at 10M vectors
    (SCALE.md §8b): with k·rerank = 1600 decrypts/query the split plan
    pays Arrow serialization of every decrypted ARRAY<DOUBLE> back to
    the JVM plus a codegen re-walk of both arrays for ``l2_expr``;
    fusing removes that exchange and keeps the decrypted matrix in
    numpy (the reference's refine stage is decrypt-bound the same way,
    ``QueryServiceImpl.java:219-271``).  The AESGCM key schedule is
    built once per (task, key_version) — not per row.

    Bit-compatibility: the distance accumulates per-dimension
    left-to-right exactly like ``l2_expr``'s fold, so the fused path is
    bit-identical to decrypt-then-score and the ann_search oracle hash
    is unaffected (equivalence is tested).

    Output: input columns minus (dim, iv, ciphertext, ``q_col``) plus
    ``out_col DOUBLE``.  mode='skip' drops undecryptable rows, 'strict'
    raises (:func:`_decrypt_rows`)."""
    drop = {"dim", "iv", "ciphertext", q_col}
    carry = [c for c in df.columns if c not in drop]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields if f.name in set(carry))
    out_schema += f", {out_col} DOUBLE"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from cryptography.hazmat.primitives.ciphers.aead import AESGCM as _AESGCM
        ciphers = {v: _AESGCM(k) for v, k in keys_bc.value.items()}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bufs, keep = _decrypt_rows(pdf, ciphers, mode, id_col)
            if not keep:
                continue
            V = np.vstack([np.frombuffer(b, dtype=">f8") for b in bufs]) \
                .astype(np.float64)
            sel = pdf.iloc[keep] if len(keep) < len(pdf) else pdf
            Qm = np.vstack([np.asarray(v, dtype=np.float64)
                            for v in sel[q_col].to_numpy()])
            # per-dimension left-to-right accumulation: bit-identical
            # to l2_expr's aggregate fold (pairwise/np.sum order could
            # flip a 6-dp rounding boundary under the oracle hash)
            acc = np.zeros(len(keep), dtype=np.float64)
            for j in range(V.shape[1]):
                d = V[:, j] - Qm[:, j]
                acc += d * d
            out = sel[carry].copy()
            out[out_col] = np.sqrt(acc)
            yield out

    return df.mapInPandas(run, schema=out_schema)
