"""The all-column row digest, computed from Python values.

Mirrors perfbench/scala/perfbench/Digest.scala: each row becomes its
columns in name order, each in Spark's string form (null as ``\\N``),
joined by U+001F; the row hash is the first 15 hex digits of the
string's SHA-256, and the digest is ``"<rows>:<sum of row hashes>"``.
Summing makes it order-insensitive and a multiset digest, so k copies
of a table have digest ``k*rows : k*sum``.
"""
import datetime
import hashlib

NULL = "\\N"
SEP = "\x1f"


def spark_str(v):
    """A value as Spark's CAST(... AS STRING) prints it, for the types
    the generated inputs use: integers, strings, booleans and UTC
    timestamps."""
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, datetime.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        if v.microsecond:
            s += ("." + "%06d" % v.microsecond).rstrip("0")
        return s
    return str(v)


def row_hash(row, columns):
    canon = SEP.join(spark_str(row.get(c)) for c in columns)
    return int(hashlib.sha256(canon.encode("utf-8")).hexdigest()[:15], 16)


def digest(rows, columns):
    """Digest of a list of dict rows over the given output columns."""
    cols = sorted(columns)
    return "%d:%d" % (len(rows), sum(row_hash(r, cols) for r in rows))


def parse(d):
    n, s = d.split(":")
    return int(n), int(s)


def combine(*digests):
    """Digest of the multiset union of tables with these digests."""
    n = s = 0
    for d in digests:
        dn, ds = parse(d)
        n += dn
        s += ds
    return "%d:%d" % (n, s)
