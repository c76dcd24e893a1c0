"""From-scratch POSIX ustar (tar) writer for WebDataset-style training
shards.

Why tar at 100 TB: the standard container for multimodal training data
is the WebDataset shard — a plain tar whose members group into samples
by basename ("000017.jpg" + "000017.txt" + "000017.json"). Trainers
stream shards sequentially (tar has no index to seek), so the engine
must write deterministic, byte-stable shards (re-runs produce
bit-identical artifacts → cacheable, diffable).

Format (public POSIX.1-1988/2001 ustar layout, reimplemented):
512-byte header blocks — name(100) mode(8) uid(8) gid(8) size(12)
mtime(12) chksum(8) typeflag(1) linkname(100) magic(6)="ustar\\0"
version(2)="00" uname(32) gname(32) devmajor(8) devminor(8)
prefix(155) — then the payload padded to a 512 multiple; the archive
ends with two zero blocks. The checksum is the byte sum of the header
with the chksum field as 8 spaces.

Writer determinism: mode 0644, uid=gid=0, mtime=0, empty uname/gname —
the bytes are a pure function of the (name, payload) list.
"""

from __future__ import annotations

BLOCK = 512


def _octal(n: int, width: int) -> bytes:
    """NUL-terminated zero-padded octal field (ustar convention)."""
    s = b"%0*o\x00" % (width - 1, n)
    if len(s) != width:
        raise ValueError(f"value {n} overflows a {width}-byte octal field")
    return s


def _split_name(name: str) -> tuple[bytes, bytes]:
    """(prefix, name) fields for names longer than 100 bytes — split at
    a '/' so prefix <= 155 and name <= 100 (ustar rule)."""
    raw = name.encode("utf-8")
    if len(raw) <= 100:
        return b"", raw
    # rightmost split point that fits both fields
    for i in range(min(155, len(raw) - 1), 0, -1):
        if raw[i:i + 1] == b"/" and len(raw) - i - 1 <= 100 and len(raw[:i]) <= 155:
            return raw[:i], raw[i + 1:]
    raise ValueError(f"tar member name too long for ustar: {name!r}")


def _header(name: str, size: int) -> bytes:
    prefix, base = _split_name(name)
    h = bytearray(BLOCK)
    h[0:len(base)] = base
    h[100:108] = _octal(0o644, 8)          # mode
    h[108:116] = _octal(0, 8)              # uid
    h[116:124] = _octal(0, 8)              # gid
    h[124:136] = _octal(size, 12)
    h[136:148] = _octal(0, 12)             # mtime
    h[148:156] = b" " * 8                  # chksum placeholder
    h[156:157] = b"0"                      # regular file
    h[257:263] = b"ustar\x00"
    h[263:265] = b"00"
    h[345:345 + len(prefix)] = prefix
    chk = sum(h)
    h[148:156] = b"%06o\x00 " % chk
    return bytes(h)


def write_tar(members: list[tuple[str, bytes]]) -> bytes:
    """Serialize (name, payload) pairs into a deterministic ustar blob."""
    out = bytearray()
    for name, data in members:
        data = bytes(data)
        out += _header(name, len(data))
        out += data
        pad = -len(data) % BLOCK
        out += b"\x00" * pad
    out += b"\x00" * (2 * BLOCK)
    return bytes(out)
