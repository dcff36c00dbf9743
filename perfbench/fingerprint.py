"""Order-independent fingerprint of a DuckDB result, value for value the
same as `Fingerprint` in the Scala benchmark: the row count and the sum
(mod 2^64) of the first 8 bytes of the MD5 of each row, where a row is its
values in column-name order, each in a canonical text form, joined by 0x1f.
Floating-point values are written as the hex of their IEEE-754 bits."""
import decimal
import hashlib
import struct

MASK = (1 << 64) - 1


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "nan"
        return format(struct.unpack(">Q", struct.pack(">d", 0.0 if v == 0 else v))[0], "x")
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, str):
        return v
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def row_hash(values):
    text = "\x1f".join(canon(v) for v in values)
    return int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:8], "big")


def fingerprint(columns, rows):
    """(row count, hex of the hash sum) of `rows`, tuples in `columns` order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        total = (total + row_hash([r[i] for i in order])) & MASK
    return len(rows), format(total, "x")
