"""Order-insensitive fingerprint of a query's output rows."""
import hashlib


def fingerprint(row_hashes):
    """Row count plus a digest of the sorted 64-bit row hashes: equal for
    any order of the same rows, different when a row changes or a
    duplicate appears or vanishes."""
    hs = sorted(int(h) for h in row_hashes)
    digest = hashlib.sha256(",".join(map(str, hs)).encode()).hexdigest()[:16]
    return f"{len(hs)}:{digest}"


def read_hashes(path):
    with open(path, encoding="utf-8") as f:
        return [int(line) for line in f if line.strip()]
