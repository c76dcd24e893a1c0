"""Test-only oracle: the ``bytes``-keyed TIFF-LZW encoder that
``kernels.lzw.compress`` replaced.

Its string table is keyed on the concatenated ``bytes`` of each string,
one new ``bytes`` object per input byte. The package encoder keys the
table on ``(prefix code << 8) | byte`` and must emit the same code
stream byte for byte; ``tests/test_property_kernels.py`` checks that.
Nothing in the package imports this module.
"""

from __future__ import annotations

CLEAR, EOI, FIRST = 256, 257, 258


def compress_bytes_keyed(data: bytes) -> bytes:
    """bytes -> TIFF-LZW code stream (MSB-first, early-change widths)."""
    out = bytearray()
    acc = 0
    nbits = 0

    def put(code: int, width: int):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
        acc &= (1 << nbits) - 1  # drop drained bits: unbounded acc => O(n) shifts

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = FIRST
    width = 9
    put(CLEAR, width)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        put(table[w], width)
        table[wc] = next_code
        next_code += 1
        # early change: width bumps when the NEXT code to emit would
        # not fit, i.e. at 511/1023/2047 table entries minus one
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        if next_code == 4094:  # table full: reset
            put(CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = FIRST
            width = 9
        w = bytes([b])
    if w:
        put(table[w], width)
        # the decoder, on processing this FINAL code, appends one more
        # table entry than the encoder ever allocated (the encoder only
        # adds on mismatches, and the last code has no successor), which
        # can push it across an early-change boundary — mirror that
        # widen before writing EOI, as libtiff's LZWPostEncode does
        if next_code == (1 << width) - 2 and width < 12:
            width += 1
    put(EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)
