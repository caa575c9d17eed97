"""Security surface: credential sanitization, sample redaction, encryption.

Parity targets (behavior only, re-implemented for a Spark pipeline):

- `dbsurveyor-core/src/security/connection.rs` — parse a database URL,
  split out credentials, reconstruct a loggable credential-free URL.
- `dbsurveyor-core/src/security/credentials.rs` — credential container
  that never exposes the password in repr/str/logs.
- `dbsurveyor/src/redaction/mod.rs` — sample-row redaction with four
  modes (none / minimal / balanced / conservative) driven by field-name
  patterns; conservative also keeps whole ISO-8601 dates and date-times.
  That is a deliberate departure from `redaction/mod.rs:150`, which keeps
  any string holding a `T`, `-` or `:` and so leaves values such as
  `MIDDLE EAST`, `555-1234` or `host:5432` in the sample.
- `dbsurveyor-core/src/security/encryption.rs` — AES-256-GCM with random
  96-bit nonce (the `cryptography` package is not in this container, so
  the cipher core is gated behind an import-try; the envelope format and
  key handling are real and tested against a deterministic stub cipher).

`redact_rows` is the one redaction implementation: every collector's
sample rows pass through it in `survey.export.table_sample`, after the
bounded sample reaches the driver.
"""

from __future__ import annotations

import json
import os
import re
import secrets
from dataclasses import dataclass, field
from typing import Any
from urllib.parse import parse_qsl, unquote, urlsplit

REDACTED_VALUE = "[REDACTED]"

# Field-name substrings per mode (reference: redaction/mod.rs:102-131).
MINIMAL_PATTERNS = (
    "password",
    "secret",
    "token",
    "api_key",
    "key",
    "private_key",
    "passwd",
)
BALANCED_PATTERNS = (
    "email",
    "ssn",
    "phone",
    "dob",
    "birth",
    "credit_card",
    "card_number",
    "cvv",
    "sin",
)
CONSERVATIVE_SAFE_FIELDS = (
    "id",
    "created_at",
    "updated_at",
    "timestamp",
    "date",
    "time",
)

REDACTION_MODES = ("none", "minimal", "balanced", "conservative")

# The string values conservative mode keeps: a whole ISO-8601 date, or a
# date-time with optional seconds, fraction and zone (`1998-08-02`,
# `2025-01-01T00:00:00Z`, `2025-01-01 12:30:00.5+02:00`).
_ISO_8601 = re.compile(
    r"\d{4}-\d{2}-\d{2}([T ]\d{2}:\d{2}(:\d{2}(\.\d+)?)?(Z|[+-]\d{2}(:?\d{2})?)?)?"
)

# URL scheme of a live server → its JDBC subprotocol, which names its
# catalog engine too (sources/catalog_sql.ENGINES). SQLite is deliberately
# absent: its URLs are host-less file paths (jdbc:sqlite:/path) that don't
# fit the host/port/database shape — sources.sqlite.SqliteSource reads them.
JDBC_SCHEMES = {
    "postgres": "postgresql",
    "postgresql": "postgresql",
    "mysql": "mysql",
    "mariadb": "mysql",
}


# --------------------------------------------------------------- credentials


@dataclass
class Credentials:
    """Credential holder that never leaks the password through repr/str.

    Python has no reliable memory zeroing (the reference uses `zeroize`);
    the enforceable guarantees here are: password absent from repr, from
    ``safe_url`` output, and from anything this library logs or exports.
    """

    username: str
    _password: str | None = field(default=None, repr=False)

    def has_password(self) -> bool:
        return self._password is not None

    def password(self) -> str | None:
        """Explicit accessor — the only way to read the secret back."""
        return self._password

    def __repr__(self) -> str:  # defensive: never echo the secret
        return f"Credentials(username={self.username!r}, password={'***' if self.has_password() else None})"

    __str__ = __repr__


@dataclass
class ConnectionInfo:
    """Credential-free connection facts, safe to log/serialize.

    Mirrors security/connection.rs `ConnectionInfo` + `to_safe_string`.
    """

    scheme: str
    host: str
    port: int | None = None
    database: str | None = None
    query_params: list[tuple[str, str]] = field(default_factory=list)

    def to_safe_string(self) -> str:
        url = f"{self.scheme}://{self.host}"
        if self.port is not None:
            url += f":{self.port}"
        if self.database:
            url += f"/{self.database}"
        if self.query_params:
            url += "?" + "&".join(f"{k}={v}" for k, v in self.query_params)
        return url


def parse_connection_string(connection_string: str) -> tuple[ConnectionInfo, Credentials]:
    """Split a DB URL into loggable info + secured credentials.

    Raises ValueError on URLs without a host (reference behavior).
    Query-param values that look like secrets (password=..., sslpassword=...)
    are dropped from the safe params, not just the userinfo section.
    """
    parts = urlsplit(connection_string)
    if not parts.hostname:
        raise ValueError("Missing host in connection string")
    params = [
        (k, v)
        for k, v in parse_qsl(parts.query, keep_blank_values=True)
        if not any(p in k.lower() for p in MINIMAL_PATTERNS)
    ]
    info = ConnectionInfo(
        scheme=parts.scheme,
        host=parts.hostname,
        port=parts.port,
        database=(parts.path or "").lstrip("/") or None,
        query_params=params,
    )
    # urlsplit does NOT percent-decode userinfo; credentials containing
    # @ : / % must be percent-encoded in the URL and decoded here, or the
    # JDBC driver receives the encoded form and authentication fails.
    creds = Credentials(
        unquote(parts.username) if parts.username else "",
        unquote(parts.password) if parts.password is not None else None,
    )
    return info, creds


def sanitize_connection_url(connection_string: str) -> str:
    """One-shot: URL in, credential-free URL out (for logs/exports)."""
    info, _ = parse_connection_string(connection_string)
    return info.to_safe_string()


# ----------------------------------------- sensitive-column detection

# Default column-name patterns (adapters/config/sampling.rs:110
# SamplingConfig::default — password/email/ssn, case-insensitive).
DEFAULT_SENSITIVE_PATTERNS: list[tuple[str, str]] = [
    (r"(?i)(password|passwd|pwd)", "Password field detected"),
    (r"(?i)(email|mail)", "Email field detected"),
    (r"(?i)(ssn|social_security)", "Social Security Number field detected"),
]


def compile_sensitive_patterns(
    patterns: list[tuple[str, str]],
) -> list[tuple["re.Pattern[str]", str]]:
    """(regex, description) pairs; invalid patterns are skipped rather than
    raising (sampling.rs:95 compile_sensitive_patterns — also removes any
    ReDoS risk from malformed user-supplied patterns)."""
    out = []
    for pattern, description in patterns:
        try:
            out.append((re.compile(pattern), description))
        except re.error:
            continue
    return out


def detect_sensitive_columns(
    tables: list[dict],
    patterns: list[tuple[str, str]] | None = None,
) -> list[str]:
    """Warnings for schema-document tables whose column NAMES match a
    sensitive pattern (the reference's warn_sensitive pass over collected
    columns). Purely metadata — no data is read."""
    compiled = compile_sensitive_patterns(
        DEFAULT_SENSITIVE_PATTERNS if patterns is None else patterns
    )
    warnings = []
    for t in tables:
        for c in t.get("columns", []):
            name = c.get("name") or ""
            for regex, description in compiled:
                if regex.search(name):
                    warnings.append(
                        f"sensitive column {t.get('name')}.{name}: {description}"
                    )
                    break
    return warnings


# ----------------------------------------------------------------- redaction


def _matches(key: str | None, patterns: tuple[str, ...]) -> bool:
    if key is None:
        return False
    k = key.lower()
    return any(p in k for p in patterns)


def _conservative_safe_key(key: str | None) -> bool:
    if key is None:
        return False
    k = key.lower()
    return k in CONSERVATIVE_SAFE_FIELDS or k.endswith("_id") or k.endswith("_at")


def _looks_like_timestamp(value: str) -> bool:
    return _ISO_8601.fullmatch(value) is not None


def should_redact(key: str | None, value: str, mode: str) -> bool:
    if mode == "none":
        return False
    if mode == "minimal":
        return _matches(key, MINIMAL_PATTERNS)
    if mode == "balanced":
        return _matches(key, MINIMAL_PATTERNS) or _matches(key, BALANCED_PATTERNS)
    if mode == "conservative":
        return not _conservative_safe_key(key) and not _looks_like_timestamp(value)
    raise ValueError(f"unknown redaction mode {mode!r}; expected one of {REDACTION_MODES}")


def redact_value(value: Any, key: str | None, mode: str) -> Any:
    """Recursively redact a JSON-ish value (dict/list/str pass-through for
    numbers/bools/None — only strings are ever replaced, as in the reference)."""
    if isinstance(value, dict):
        return {k: redact_value(v, k, mode) for k, v in value.items()}
    if isinstance(value, list):
        return [redact_value(v, key, mode) for v in value]
    if isinstance(value, str):
        return REDACTED_VALUE if should_redact(key, value, mode) else value
    return value


def redact_rows(rows: list[dict[str, Any]], mode: str) -> list[dict[str, Any]]:
    return [redact_value(r, None, mode) for r in rows]


# ---------------------------------------------------------------- encryption

NONCE_SIZE = 12  # 96-bit, NIST SP 800-38D (encryption.rs:47)
KEY_SIZE = 32  # AES-256 (encryption.rs:66)
SALT_SIZE = 16  # 128-bit KDF salt (encryption.rs:77)
ENVELOPE_MAGIC = b"DBSVY1"

try:  # cipher backend is optional in this container
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM  # type: ignore

    HAVE_AESGCM = True
except Exception:  # pragma: no cover - container has no `cryptography`
    AESGCM = None
    HAVE_AESGCM = False


try:  # Argon2id needs cryptography >= 43 built against OpenSSL 3.2+
    from cryptography.hazmat.primitives.kdf.argon2 import Argon2id  # type: ignore

    HAVE_ARGON2ID = True
except Exception:  # pragma: no cover - older cryptography build
    Argon2id = None
    HAVE_ARGON2ID = False

# Reference KDF parameters (encryption.rs:75-107): RFC 9106 Argon2id v1.3,
# 64 MiB memory, 3 iterations, 4 lanes, 16-byte salt, 32-byte key.
ARGON2_MEMORY_COST = 65536  # KiB
ARGON2_TIME_COST = 3
ARGON2_PARALLELISM = 4
ARGON2_VERSION = "1.3"
PBKDF2_ITERATIONS = 600_000
PBKDF2_VERSION = f"pbkdf2-hmac-sha256/{PBKDF2_ITERATIONS}"


def _derive_key_pbkdf2(passphrase: str, salt: bytes) -> bytes:
    import hashlib

    return hashlib.pbkdf2_hmac(
        "sha256", passphrase.encode(), salt, PBKDF2_ITERATIONS, dklen=KEY_SIZE
    )


def _derive_key_argon2id(
    passphrase: str,
    salt: bytes,
    memory_cost: int = ARGON2_MEMORY_COST,
    time_cost: int = ARGON2_TIME_COST,
    parallelism: int = ARGON2_PARALLELISM,
) -> bytes:
    """Argon2id exactly as the reference derives it (encryption.rs:289
    derive_key): RFC 9106, no secret, no associated data, 32-byte output —
    the Rust `argon2` crate and cryptography's OpenSSL binding implement
    the same function, so keys (and thus envelopes) are cross-tool
    compatible."""
    if not HAVE_ARGON2ID:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "Argon2id unavailable in this cryptography build"
        )
    return Argon2id(
        salt=salt,
        length=KEY_SIZE,
        iterations=time_cost,
        lanes=parallelism,
        memory_cost=memory_cost,
    ).derive(passphrase.encode())


def _derive_key(passphrase: str, salt: bytes) -> bytes:
    """Key derivation for the COMPACT binary envelope (this engine's own
    format). Kept on PBKDF2-HMAC-SHA256/600k for backward compatibility
    with envelopes written by earlier rounds; the reference-interop JSON
    envelope (`encrypt_data`) uses Argon2id with the reference's exact
    KdfParams."""
    return _derive_key_pbkdf2(passphrase, salt)


def encrypt_bytes(plaintext: bytes, passphrase: str) -> bytes:
    """AES-256-GCM envelope: magic || salt || nonce || ciphertext+tag.

    Fresh random nonce per call (no reuse). Raises NotImplementedError
    when the AES-GCM backend is missing — callers must treat encryption
    as unavailable rather than silently writing plaintext.
    """
    if not HAVE_AESGCM:
        raise NotImplementedError(
            "AES-GCM backend unavailable (install `cryptography`); refusing to write plaintext"
        )
    salt = secrets.token_bytes(SALT_SIZE)
    nonce = secrets.token_bytes(NONCE_SIZE)
    key = _derive_key(passphrase, salt)
    ct = AESGCM(key).encrypt(nonce, plaintext, ENVELOPE_MAGIC)
    return ENVELOPE_MAGIC + salt + nonce + ct


def decrypt_bytes(envelope: bytes, passphrase: str) -> bytes:
    if not HAVE_AESGCM:
        raise NotImplementedError("AES-GCM backend unavailable (install `cryptography`)")
    if envelope[: len(ENVELOPE_MAGIC)] != ENVELOPE_MAGIC:
        raise ValueError("not a dbsurveyor-spark encrypted envelope")
    off = len(ENVELOPE_MAGIC)
    salt = envelope[off : off + SALT_SIZE]
    nonce = envelope[off + SALT_SIZE : off + SALT_SIZE + NONCE_SIZE]
    ct = envelope[off + SALT_SIZE + NONCE_SIZE :]
    key = _derive_key(passphrase, salt)
    return AESGCM(key).decrypt(nonce, ct, ENVELOPE_MAGIC)


# ------------------------------------------- reference-interop envelope
#
# The reference serializes `EncryptedData` (encryption.rs:218) with
# serde_json (dbsurveyor-collect/src/output.rs:254 save_encrypted): byte
# vectors become JSON integer arrays, and the 16-byte GCM tag is split off
# the ciphertext into its own `auth_tag` field. `encrypt_data` /
# `decrypt_data` reproduce that shape bit-for-bit with the reference's
# Argon2id KdfParams, so a file written by either tool decrypts in the
# other. When this container's cryptography build lacks Argon2id, the
# envelope falls back to PBKDF2 with a DISTINGUISHING kdf version string —
# still self-decryptable, explicitly not reference-decryptable.

AES_GCM_TAG_SIZE = 16  # encryption.rs:70


def encrypt_data(data: bytes, password: str) -> dict[str, Any]:
    """Encrypt to the reference's `EncryptedData` document shape
    (encryption.rs:365 encrypt_data): AES-256-GCM, fresh 96-bit nonce, no
    associated data, Argon2id(m=65536 KiB, t=3, p=4) over a fresh 16-byte
    salt."""
    if not HAVE_AESGCM:
        raise NotImplementedError(
            "AES-GCM backend unavailable (install `cryptography`)"
        )
    salt = secrets.token_bytes(SALT_SIZE)
    nonce = secrets.token_bytes(NONCE_SIZE)
    if HAVE_ARGON2ID:
        key = _derive_key_argon2id(password, salt)
        version = ARGON2_VERSION
    else:  # pragma: no cover - env-dependent
        key = _derive_key_pbkdf2(password, salt)
        version = PBKDF2_VERSION
    ct_and_tag = AESGCM(key).encrypt(nonce, data, None)
    return {
        "algorithm": "AES-GCM-256",
        "nonce": list(nonce),
        "ciphertext": list(ct_and_tag[:-AES_GCM_TAG_SIZE]),
        "auth_tag": list(ct_and_tag[-AES_GCM_TAG_SIZE:]),
        "kdf_params": {
            "salt": list(salt),
            "memory_cost": ARGON2_MEMORY_COST,
            "time_cost": ARGON2_TIME_COST,
            "parallelism": ARGON2_PARALLELISM,
            "version": version,
        },
    }


def _validate_encrypted_data(env: dict[str, Any]) -> None:
    """Structural validation before decryption (encryption.rs:240
    validate_encrypted_data + KdfParams::validate mins)."""
    if env.get("algorithm") != "AES-GCM-256":
        raise ValueError(f"unsupported algorithm {env.get('algorithm')!r}")
    if len(env.get("nonce", ())) != NONCE_SIZE:
        raise ValueError("nonce must be 12 bytes")
    if len(env.get("auth_tag", ())) != AES_GCM_TAG_SIZE:
        raise ValueError("auth tag must be 16 bytes")
    kdf = env.get("kdf_params") or {}
    if len(kdf.get("salt", ())) < SALT_SIZE:
        raise ValueError(f"salt must be at least {SALT_SIZE} bytes")
    version = kdf.get("version")
    if version == ARGON2_VERSION:
        if kdf.get("memory_cost", 0) < ARGON2_MEMORY_COST:
            raise ValueError("memory cost below reference minimum")
        if kdf.get("time_cost", 0) < ARGON2_TIME_COST:
            raise ValueError("time cost below reference minimum")
        if kdf.get("parallelism", 0) < 1:
            raise ValueError("parallelism must be at least 1")
    elif version != PBKDF2_VERSION:
        raise ValueError(f"unknown kdf version {version!r}")


def decrypt_data(env: dict[str, Any], password: str) -> bytes:
    """Decrypt a reference-shape `EncryptedData` document — including ones
    written by the reference binary itself (Argon2id path)."""
    if not HAVE_AESGCM:
        raise NotImplementedError(
            "AES-GCM backend unavailable (install `cryptography`)"
        )
    _validate_encrypted_data(env)
    kdf = env["kdf_params"]
    salt = bytes(kdf["salt"])
    if kdf["version"] == ARGON2_VERSION:
        key = _derive_key_argon2id(
            password,
            salt,
            memory_cost=int(kdf["memory_cost"]),
            time_cost=int(kdf["time_cost"]),
            parallelism=int(kdf["parallelism"]),
        )
    else:
        key = _derive_key_pbkdf2(password, salt)
    nonce = bytes(env["nonce"])
    ct_and_tag = bytes(env["ciphertext"]) + bytes(env["auth_tag"])
    return AESGCM(key).decrypt(nonce, ct_and_tag, None)


def write_reference_encrypted(obj: Any, path: str, password: str) -> None:
    """Atomic write of the serde_json-shaped encrypted document
    (output.rs:250 save_encrypted)."""
    payload = json.dumps(obj, default=str).encode()
    env = encrypt_data(payload, password)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(env, fh, indent=2)
    os.replace(tmp, path)


def read_reference_encrypted(path: str, password: str) -> Any:
    with open(path) as fh:
        env = json.load(fh)
    return json.loads(decrypt_data(env, password))


def write_encrypted_json(obj: Any, path: str, passphrase: str) -> None:
    payload = json.dumps(obj, default=str).encode()
    env = encrypt_bytes(payload, passphrase)
    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write(env)
    os.replace(tmp, path)
