"""Query tokens, cloaking, and decoy generation (reference
``query/.../QueryTokenFactory.java:63-167``,
``ForwardSecureANNSystem.cloakQuery:1701-1703``,
``query/.../DecoyQueryGenerator.java:60-117``).

A token carries everything the (honest-but-curious) server needs to
route and refine without seeing the plaintext query: per-(table,division)
LSH codes + the AES-encrypted query payload.  The engine's batched
pipeline consumes tokens as a DataFrame; decoys ride along flagged so
their results can be discarded client-side."""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lsh.coding import code_single
from ..lsh.params import LshParams
from ..crypto.aes import AESGCM, IV_LEN, vector_to_bytes, bytes_to_vector
from .ann import _list_array


@dataclass
class QueryToken:
    """Reference ``common/.../QueryToken.java:22-76`` equivalent."""
    q_id: int
    codes: dict              # {(table, division): (key, words ndarray)}
    iv: bytes
    encrypted_query: bytes
    top_k: int
    key_version: int
    dim: int
    is_decoy: bool = False


def cloak(vec: np.ndarray, noise_scale: float, rng: np.random.Generator) -> np.ndarray:
    """P10 query cloak: additive gaussian noise (reference currently
    pass-through with scale 0; same default here)."""
    if noise_scale <= 0:
        return vec
    return vec + rng.normal(0.0, noise_scale, vec.shape)


def make_token(q_id: int, vec, params: LshParams, key: bytes,
               key_version: int, top_k: int = 10,
               noise_scale: float = 0.0,
               rng: np.random.Generator | None = None,
               is_decoy: bool = False) -> QueryToken:
    """Client-side token construction: cloak → code → encrypt (C6: query
    payload is AES-GCM with no AAD, reference ``encryptQuery:169-187``)."""
    import secrets
    rng = rng or np.random.default_rng(q_id)
    v = cloak(np.asarray(vec, dtype=np.float64), noise_scale, rng)
    codes = code_single(v, params)
    iv = secrets.token_bytes(IV_LEN)
    ct = AESGCM(key).encrypt(iv, vector_to_bytes(v), None)
    return QueryToken(q_id=q_id, codes=codes, iv=iv, encrypted_query=ct,
                      top_k=top_k, key_version=key_version,
                      dim=len(v), is_decoy=is_decoy)


def open_token(token: QueryToken, key: bytes) -> np.ndarray:
    """Decrypt the query payload (server/refine side)."""
    return bytes_to_vector(AESGCM(key).decrypt(token.iv, token.encrypted_query, None))


# ---------------------------------------------------------------------------
# decoys (P11)
# ---------------------------------------------------------------------------

def generate_decoys(n: int, dim: int, mode: str, rng: np.random.Generator,
                    sample: np.ndarray | None = None) -> np.ndarray:
    """Synthetic unit-norm decoy vectors (reference
    ``DecoyQueryGenerator.generateDecoy:60``): uniform / gaussian /
    clustered (jittered copies of sample rows)."""
    if mode == "uniform":
        V = rng.uniform(-1, 1, (n, dim))
    elif mode == "gaussian":
        V = rng.normal(0, 1, (n, dim))
    elif mode == "clustered":
        if sample is None or len(sample) == 0:
            raise ValueError("clustered decoys need a sample")
        picks = rng.integers(0, len(sample), n)
        V = sample[picks] + rng.normal(0, 0.05, (n, dim))
    else:
        raise ValueError(f"bad decoy mode {mode!r}")
    norms = np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-30)
    return V / norms


def decoy_count(n_real: int, ratio: float) -> int:
    """Reference ``computeDecoyCount:71``: ceil so any ratio>0 yields >=1."""
    if ratio <= 0:
        return 0
    return int(np.ceil(n_real * ratio / (1.0 - ratio)))


def interleave_decoys(queries: DataFrame, ratio: float, mode: str,
                      dim: int, seed: int = 7,
                      sample: np.ndarray | None = None) -> DataFrame:
    """Real queries + decoys, shuffled (reference
    ``interleaveDecoys:91``); decoy q_ids are negative so they can never
    collide with real ones, and ``is_decoy`` lets the client drop their
    results after search."""
    spark = queries.sparkSession
    n_real = queries.count()
    n_dec = decoy_count(n_real, ratio)
    real = queries.select("q_id", "vector", F.lit(False).alias("is_decoy"))
    if n_dec == 0:
        return real
    rng = np.random.default_rng(seed)
    D = generate_decoys(n_dec, dim, mode, rng, sample)
    dec = spark.createDataFrame(pa.table({
        "q_id": pa.array(-np.arange(1, n_dec + 1), pa.int64()),
        "vector": _list_array(np.asarray(D, dtype=np.float64)),
        "is_decoy": pa.array(np.ones(n_dec, dtype=bool))}))
    return real.unionByName(dec).orderBy(F.rand(seed))


def strip_decoy_results(results: DataFrame) -> DataFrame:
    """Drop decoy rows post-search (decoy results are discarded,
    reference ``DecoyQueryGenerator`` contract)."""
    return results.filter(F.col("q_id") >= 0)
