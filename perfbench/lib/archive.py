"""Seeded generator for the ingest_train archive: an S3-layout zip
(`<label>/<img>.png` at the archive root, the extracted dir being the
reference's `data/`) plus a manifest of every image's label, file name and
CRC-32, in (label, name) order."""
import random
import struct
import zipfile
import zlib

LABELS = 10
SIDE = 16  # every image is SIDE x SIDE RGB, so the trainer's input width is fixed
BATCH = 32
TOTAL = 171  # images per archive; 171 % BATCH = 11


def png(width, height, rgb):
    """Encode raw RGB bytes (row-major) as a PNG with no filtering."""
    def chunk(kind, data):
        body = kind + data
        return struct.pack(">I", len(data)) + body + struct.pack(">I", zlib.crc32(body))
    stride = width * 3
    raw = b"".join(b"\x00" + rgb[y * stride:(y + 1) * stride] for y in range(height))
    header = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", header)
            + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


def label_counts(seed, total=TOTAL):
    """Files per label, set by the seed around an even split. The total is
    fixed, so every seed asks for the same work, and it is not a multiple
    of the batch size, so the export always drops a remainder."""
    rng = random.Random(seed)
    weights = [rng.uniform(0.9, 1.1) for _ in range(LABELS)]
    counts = [int(total * w / sum(weights)) for w in weights]
    counts[rng.randrange(LABELS)] += total - sum(counts)
    return counts


def make_archive(seed, zip_path, manifest_path):
    """Write the zip and manifest for `seed`; return the number of images."""
    counts = label_counts(seed)
    rng = random.Random(seed * 7919 + 1)
    rows = []
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_STORED) as z:
        for li, count in enumerate(counts):
            label = f"label_{li:02d}"
            # each label gets its own base colour, so pixels carry the label
            base = [(li * 25 + 40 * c) % 256 for c in range(3)]
            for j in range(count):
                rgb = bytes((base[i % 3] + rng.randrange(64)) % 256 for i in range(SIDE * SIDE * 3))
                data = png(SIDE, SIDE, rgb)
                name = f"img_{j:05d}.png"
                info = zipfile.ZipInfo(f"{label}/{name}", date_time=(2020, 1, 1, 0, 0, 0))
                z.writestr(info, data)
                rows.append((label, name, zlib.crc32(data)))
    rows.sort()
    with open(manifest_path, "w", encoding="utf-8") as f:
        for label, name, crc in rows:
            f.write(f"{label}\t{name}\t{crc}\n")
    return len(rows)
