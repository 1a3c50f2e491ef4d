"""Test-only helpers: a decoder for the PNGs the overlay sink writes and a
clustered embedding corpus for ANN recall floors."""

from __future__ import annotations


def decode_png_rgb(png: bytes):
    """Inverse of visualization.encode_png for filter-0 RGB images."""
    import struct
    import zlib

    import numpy as np

    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    pos, idat, w = 8, b"", 0
    while pos < len(png):
        (ln,) = struct.unpack(">I", png[pos:pos + 4])
        tag = png[pos + 4:pos + 8]
        data = png[pos + 8:pos + 8 + ln]
        if tag == b"IHDR":
            w, h, bit, ctype = struct.unpack(">IIBB", data[:10])
            assert (bit, ctype) == (8, 2), "decoder handles 8-bit RGB only"
        elif tag == b"IDAT":
            idat += data
        pos += 12 + ln
    raw = zlib.decompress(idat)
    stride = 1 + 3 * w
    rows = [raw[i * stride:(i + 1) * stride] for i in range(len(raw) // stride)]
    assert all(r[0] == 0 for r in rows), "decoder handles filter 0 only"
    return np.frombuffer(b"".join(r[1:] for r in rows), np.uint8).reshape(
        len(rows), w, 3
    )


def clustered_embeddings(spark, n: int, dim: int, n_clusters: int,
                         noise: float = 0.15, id_start: int = 0):
    """Deterministic mixture-of-clusters embedding corpus (no RNG).

    A uniform hash-derived corpus (BENCH/ANN_CAPACITY.md) is the
    WORST case for a coarse quantizer — no cluster structure, so IVF
    recall stays near nprobe/C regardless of index quality. Real
    embedding corpora cluster; this generator plants that structure so
    the recall/nprobe trade is measurable (BENCH/ANN_CAPACITY.md's
    clustered-recall section) and regression-testable.

    Vector for ``vec_id`` v: true cluster c = v mod ``n_clusters``; each
    component i is ``center(c)[i] + noise * u(v, i)`` where both the
    center component and the per-vector jitter are hash-derived uniforms
    in [-0.5, 0.5) (xxhash64 -> pmod 10000, the same scheme as the
    uniform corpus, so generation stays whole-stage codegen with zero
    Python). At noise=0.15 / dim>=32 the within-cluster cosine is ~0.98
    and cross-cluster ~0, so a query's true top-k lives in its own
    cluster. ``id_start`` offsets vec_id so held-out query batches can
    be drawn from the same mixture without overlapping corpus ids.

    Returns (vec_id, cluster_true, embedding array<double>); cluster_true
    is diagnostic only — training never sees it.
    """
    from pyspark.sql import functions as F

    def u(h):
        return F.pmod(h, F.lit(10000)).cast("double") / 10000.0 - 0.5

    base = (spark.range(id_start, id_start + n).toDF("vec_id")
            .withColumn("cluster_true",
                        F.pmod(F.col("vec_id"), F.lit(n_clusters))))
    return base.withColumn(
        "embedding",
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: u(F.xxhash64(F.lit("plp-ctr"),
                                   F.col("cluster_true"), i))
            + F.lit(float(noise)) * u(F.xxhash64(F.col("vec_id"), i)),
        ),
    )
