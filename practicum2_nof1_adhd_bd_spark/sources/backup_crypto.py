"""Apple-backup keybag crypto — the encrypted path of SURVEY §2.1 S13.

Implements the PUBLIC iOS backup protection scheme (documented in Apple's
iOS Security whitepapers and the BSD-licensed iphone-dataprotection
project; ref parity `src/domains/iphone_backup/
google_iphone_dataprotection.py:32-160` and `iphone_backup.py:56-157`):

1. ``Manifest.plist``'s ``BackupKeyBag`` is a TLV blob: global attrs
   (DPSL/DPIC double-protection salt+iterations, SALT/ITER) followed by
   per-protection-class blocks (CLAS, WRAP, WPKY wrapped key).
2. Unlock = PBKDF2-SHA256(passphrase, DPSL, DPIC) -> 32 bytes, then
   PBKDF2-SHA1(that, SALT, ITER) -> the key-encryption key; every class
   key whose WRAP has the passphrase bit is an RFC 3394 AES-unwrap away.
3. ``ManifestKey`` = 4-byte LE protection class + wrapped key; unwrap
   with that class's key, AES-256-CBC (zero IV) decrypt ``Manifest.db``.
4. Each ``Files.file`` column is an NSKeyedArchiver plist whose
   ``EncryptionKey`` data is again class+wrapped key; unwrap, CBC-decrypt
   the ``xx/fileID`` payload, truncate to the archived ``Size``.

Implementation is stdlib ``hashlib.pbkdf2_hmac`` + the ``cryptography``
package — ``keywrap.aes_key_unwrap`` IS RFC 3394, so none of the unwrap
arithmetic is hand-rolled. Everything here is driver-free pure-bytes
work: the Spark wiring in ``iphone_backup.py`` runs it INSIDE
mapInPandas, so a corpus of thousands of backups unlocks keybags and
decrypts catalogs in parallel on the executors (PBKDF2's millions of
iterations are per-BACKUP work and the whole point of pushing it off the
driver).

``synthesize_encrypted_backup`` builds a real encrypted backup tree
(keybag, wrapped keys, encrypted SQLite catalog, encrypted payloads)
from a deterministic index formula — the test/attestation fixture: the
driver query ``encrypted_backup_scan`` only produces the right rollup if
every unwrap and CBC decrypt actually round-trips.
"""

from __future__ import annotations

import hashlib
import os
import plistlib
import sqlite3
import struct
import tempfile

WRAP_PASSPHRASE = 2


def _require_crypto():
    try:
        from cryptography.hazmat.primitives import padding  # noqa: F401
        from cryptography.hazmat.primitives.ciphers import (  # noqa: F401
            Cipher,
        )
        from cryptography.hazmat.primitives.keywrap import (  # noqa: F401
            aes_key_unwrap,
        )
    except ImportError as e:  # pragma: no cover - env without cryptography
        raise NotImplementedError(
            "encrypted iTunes backups need the 'cryptography' package for "
            "RFC 3394 key-unwrap + AES-CBC; decrypt out-of-band and point "
            "at the plain backup tree"
        ) from e


def _tlv_blocks(blob: bytes):
    off = 0
    while off + 8 <= len(blob):
        tag = blob[off : off + 4].decode("ascii", "replace")
        ln = int.from_bytes(blob[off + 4 : off + 8], "big")
        yield tag, blob[off + 8 : off + 8 + ln]
        off += 8 + ln


class BackupKeybag:
    """Parsed BackupKeyBag: global attrs + per-class wrapped keys."""

    def __init__(self, blob: bytes):
        self.attrs: dict[str, bytes | int] = {}
        self.class_keys: dict[int, dict[str, bytes | int]] = {}
        current: dict[str, bytes | int] | None = None
        seen_bag_uuid = False
        for tag, data in _tlv_blocks(blob):
            val: bytes | int = (
                int.from_bytes(data, "big") if len(data) == 4 else data
            )
            if tag == "UUID":
                if not seen_bag_uuid:
                    self.attrs["UUID"] = data
                    seen_bag_uuid = True
                else:
                    if current is not None and "CLAS" in current:
                        self.class_keys[int(current["CLAS"])] = current
                    current = {"UUID": data}
            elif tag in ("CLAS", "WRAP", "WPKY", "KTYP", "PBKY") and (
                current is not None
            ):
                current[tag] = val
            else:
                self.attrs[tag] = val
        if current is not None and "CLAS" in current:
            self.class_keys[int(current["CLAS"])] = current

    def unlock(self, passphrase: bytes | str) -> bool:
        """Derive the passphrase KEK (double PBKDF2) and unwrap every
        passphrase-wrapped class key. False on a wrong passphrase (the
        RFC 3394 integrity check fails)."""
        _require_crypto()
        from cryptography.hazmat.primitives.keywrap import (
            InvalidUnwrap,
            aes_key_unwrap,
        )

        pw = passphrase.encode() if isinstance(passphrase, str) else passphrase
        round1 = hashlib.pbkdf2_hmac(
            "sha256", pw, bytes(self.attrs["DPSL"]), int(self.attrs["DPIC"]), 32
        )
        kek = hashlib.pbkdf2_hmac(
            "sha1", round1, bytes(self.attrs["SALT"]), int(self.attrs["ITER"]), 32
        )
        for ck in self.class_keys.values():
            if "WPKY" not in ck:
                continue
            if int(ck.get("WRAP", 0)) & WRAP_PASSPHRASE:
                try:
                    ck["KEY"] = aes_key_unwrap(kek, bytes(ck["WPKY"]))
                except InvalidUnwrap:
                    return False
        return True

    def unwrap_for_class(self, protection_class: int, wrapped: bytes) -> bytes:
        """Unwrap a persistent key (0x28 bytes wrapped) with the unlocked
        class key."""
        _require_crypto()
        from cryptography.hazmat.primitives.keywrap import aes_key_unwrap

        if len(wrapped) != 0x28:
            raise ValueError(f"wrapped key must be 0x28 bytes, got {len(wrapped)}")
        ck = self.class_keys[protection_class]
        if "KEY" not in ck:
            raise ValueError(
                f"class {protection_class} not unlocked (wrong WRAP bits?)"
            )
        return aes_key_unwrap(bytes(ck["KEY"]), wrapped)


def aes_cbc(data: bytes, key: bytes, encrypt: bool = False) -> bytes:
    """AES-CBC with the backup scheme's zero IV (each payload has its own
    key, so IV reuse across payloads is not a concern in this format)."""
    _require_crypto()
    from cryptography.hazmat.primitives.ciphers import (
        Cipher,
        algorithms,
        modes,
    )

    c = Cipher(algorithms.AES(key), modes.CBC(b"\x00" * 16))
    op = c.encryptor() if encrypt else c.decryptor()
    return op.update(data) + op.finalize()


def file_key_and_size(
    file_plist: bytes, keybag: BackupKeybag
) -> tuple[bytes | None, int | None]:
    """Per-file AES key + logical size from a Files.file NSKeyedArchiver
    plist: the archived record holds ``Size`` and an ``EncryptionKey``
    UID whose data is 4-byte LE class + wrapped key. Returns (None, size)
    for records without a key (unencrypted entries)."""
    p = plistlib.loads(file_plist)
    objs = p.get("$objects", [])

    def resolve(v):
        if isinstance(v, plistlib.UID):
            return objs[v.data]
        return v

    for o in objs:
        if isinstance(o, dict) and ("Size" in o or "EncryptionKey" in o):
            size = resolve(o.get("Size"))
            ek = resolve(o.get("EncryptionKey"))
            if isinstance(ek, dict):
                ek = resolve(ek.get("NS.data"))
            if isinstance(ek, (bytes, bytearray)):
                cls = struct.unpack("<l", bytes(ek[:4]))[0]
                return keybag.unwrap_for_class(cls, bytes(ek[4:])), size
            return None, size
    return None, None


def decrypt_file_payload(content: bytes, key: bytes, size: int | None) -> bytes:
    """CBC-decrypt one payload and truncate to the archived size (the
    format pads to the AES block)."""
    plain = aes_cbc(content, key)
    if size is not None:
        return plain[:size]
    # RFC 1423 padding fallback when no size was archived
    n = plain[-1]
    if 1 <= n <= 16:
        return plain[:-n]
    return plain


# ---------------------------------------------------------------------------
# Deterministic encrypted-backup fixture builder (tests + attestation)
# ---------------------------------------------------------------------------

PROTECTION_CLASS = 3  # arbitrary valid class id used by the fixture


def _det_bytes(tag: str, n: int) -> bytes:
    """n deterministic bytes from chained md5 of a tag — NOT a secret
    derivation, just a reproducible fixture constant."""
    out = b""
    i = 0
    while len(out) < n:
        out += hashlib.md5(f"{tag}:{i}".encode()).digest()
        i += 1
    return out[:n]


def _wrap(kek: bytes, key: bytes) -> bytes:
    _require_crypto()
    from cryptography.hazmat.primitives.keywrap import aes_key_wrap

    return aes_key_wrap(kek, key)


def _tlv(tag: str, data: bytes) -> bytes:
    return tag.encode() + struct.pack(">L", len(data)) + data


def _int_tlv(tag: str, v: int) -> bytes:
    return _tlv(tag, struct.pack(">L", v))


def synthesize_encrypted_backup(
    root: str,
    passphrase: str,
    n_records: int = 240,
    iterations: int = 1000,
    payload_indices: tuple[int, ...] = (),
) -> None:
    """Build a real encrypted backup tree under ``root``: Manifest.plist
    (keybag + wrapped ManifestKey), AES-CBC-encrypted SQLite Manifest.db
    whose Files rows are a pure function of the record index, and
    optionally encrypted ``xx/fileID`` payloads for ``payload_indices``.

    Record i: fileID = sha1-hex of 'file{i}', domain 'AppDomain-{i%4}',
    relativePath 'sub{i%5}/f{i}.dat' (files) with every i%3==0 row a
    DIRECTORY at 'sub{i%5}' (flags 2) and i%7==0 files nested one level
    deeper ('sub{i%5}/n{i%7}/f{i}.dat'). Payload content for file i is
    b'payload-{i}-' * (i % 5 + 1). Low ``iterations`` keeps the fixture
    fast; the derivation chain is identical at any count."""
    os.makedirs(root, exist_ok=True)
    class_key = _det_bytes("fixture-class-key", 32)
    manifest_key = _det_bytes("fixture-manifest-key", 32)
    dpsl = _det_bytes("fixture-dpsl", 20)
    salt = _det_bytes("fixture-salt", 20)

    round1 = hashlib.pbkdf2_hmac(
        "sha256", passphrase.encode(), dpsl, iterations, 32
    )
    kek = hashlib.pbkdf2_hmac("sha1", round1, salt, iterations, 32)

    keybag = b"".join(
        [
            _int_tlv("TYPE", 3),
            _tlv("UUID", _det_bytes("fixture-bag-uuid", 16)),
            _int_tlv("WRAP", WRAP_PASSPHRASE),
            _tlv("DPSL", dpsl),
            _int_tlv("DPIC", iterations),
            _tlv("SALT", salt),
            _int_tlv("ITER", iterations),
            # one class-key block
            _tlv("UUID", _det_bytes("fixture-class-uuid", 16)),
            _int_tlv("CLAS", PROTECTION_CLASS),
            _int_tlv("WRAP", WRAP_PASSPHRASE),
            _tlv("WPKY", _wrap(kek, class_key)),
        ]
    )
    manifest_plist = plistlib.dumps(
        {
            "BackupKeyBag": keybag,
            "ManifestKey": struct.pack("<l", PROTECTION_CLASS)
            + _wrap(class_key, manifest_key),
            "IsEncrypted": True,
        },
        fmt=plistlib.FMT_BINARY,
    )
    with open(os.path.join(root, "Manifest.plist"), "wb") as f:
        f.write(manifest_plist)

    payload_set = set(payload_indices)
    fd, tmp = tempfile.mkstemp(suffix=".db")
    os.close(fd)
    try:
        os.unlink(tmp)
        con = sqlite3.connect(tmp)
        con.execute(
            "CREATE TABLE Files (fileID TEXT, domain TEXT, "
            "relativePath TEXT, flags INT, file BLOB)"
        )
        for i in range(n_records):
            file_id = hashlib.sha1(f"file{i}".encode()).hexdigest()
            domain = f"AppDomain-{i % 4}"
            if i % 3 == 0:
                rel, flags = f"sub{i % 5}", 2
            elif i % 7 == 0:
                rel, flags = f"sub{i % 5}/n{i % 7}/f{i}.dat", 1
            else:
                rel, flags = f"sub{i % 5}/f{i}.dat", 1
            blob = None
            if i in payload_set and flags == 1:
                content = (f"payload-{i}-".encode()) * (i % 5 + 1)
                fkey = _det_bytes(f"fixture-file-key-{i}", 32)
                pad = (-len(content)) % 16 or 16
                enc = aes_cbc(content + bytes([pad]) * pad, fkey, encrypt=True)
                shard = os.path.join(root, file_id[:2])
                os.makedirs(shard, exist_ok=True)
                with open(os.path.join(shard, file_id), "wb") as pf:
                    pf.write(enc)
                # NSKeyedArchiver-shaped record: Size + EncryptionKey UID
                blob = plistlib.dumps(
                    {
                        "$objects": [
                            "$null",
                            {
                                "Size": len(content),
                                "EncryptionKey": plistlib.UID(2),
                            },
                            {
                                "NS.data": struct.pack("<l", PROTECTION_CLASS)
                                + _wrap(class_key, fkey)
                            },
                        ]
                    },
                    fmt=plistlib.FMT_BINARY,
                )
            con.execute(
                "INSERT INTO Files VALUES (?, ?, ?, ?, ?)",
                (file_id, domain, rel, flags, blob),
            )
        con.commit()
        con.close()
        # read plaintext sqlite bytes, pad to block, CBC-encrypt
        with open(tmp, "rb") as f:
            plain = f.read()
        pad = (-len(plain)) % 16
        enc_db = aes_cbc(plain + b"\x00" * pad, manifest_key, encrypt=True)
        with open(os.path.join(root, "Manifest.db"), "wb") as f:
            f.write(enc_db)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
