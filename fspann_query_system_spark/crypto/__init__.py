from .keys import KeyManager, RotationPolicy, derive_session_key
from .aes import (encrypt_vectors, decrypt_vectors, encrypt_record,
                  decrypt_record, vector_to_bytes, bytes_to_vector)
from .reencrypt import (TouchedTracker, reencrypt_touched, reencrypt_all,
                        version_census)

__all__ = [
    "KeyManager", "RotationPolicy", "derive_session_key",
    "encrypt_vectors", "decrypt_vectors", "encrypt_record", "decrypt_record",
    "vector_to_bytes", "bytes_to_vector",
    "TouchedTracker", "reencrypt_touched", "reencrypt_all",
    "version_census",
]
