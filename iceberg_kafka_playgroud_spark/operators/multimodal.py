"""Multimodal column handling (SURVEY §2.9 X4).

Pattern for image/audio/video at 100 TB: payloads are opaque
``BinaryType`` columns with a typed metadata struct alongside; decode /
feature-extraction runs as Arrow-batched ``mapInPandas`` so bytes never
round-trip through Python row objects. Parquet stores binary natively
and Spark's vectorized reader streams it in batches.

The container has no image/audio codecs, so the decode step is a
clearly-marked deterministic stub (`_fake_decode`); everything around
it — schema, batch iteration, UDF signature, output contract — is the
real plumbing and is oracle-checked end-to-end.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plan_cache import cached
from ..schema import load_table


def with_payload(docs: DataFrame) -> DataFrame:
    """Attach a binary payload + metadata struct (the multimodal row
    shape). Fixture docs carry no real media, so the payload is the
    utf-8 text bytes — type-wise identical to an image blob.

    The input is spread through the CPU-amplification gate first
    (``dedup._spread_for_compute``): every multimodal operator feeds
    this frame into an Arrow-batched Python decode, and at bench
    scale the documents parquet is ONE input split, so the decode ran
    as a single task (r18 profile: 825 ms serial inside
    multimodal_phash_near_dup while 31 cores idled).  The gated
    round-robin moves only the raw text bytes and is false at scale,
    where the input already has many splits."""
    from .dedup import _spread_for_compute

    docs = _spread_for_compute(docs)
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.col("source").alias("origin"),
            F.lit("application/octet-stream").alias("mime"),
            F.length(F.col("text")).cast("bigint").alias("content_length"),
        ).alias("media_meta"),
    )


def _fake_decode(payload: bytes) -> dict:
    """STUB decoder — stands in for PIL/libav decode, which this
    container lacks. Deterministic features of the raw bytes keep the
    pipeline testable; swap for a real decoder in production."""
    n = len(payload)
    return {
        "payload_len": n,
        "header_hex": payload[:8].hex(),
        "fake_channels": n % 3 + 1,
    }


def multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Binary payload → per-item features via Arrow-batched mapInPandas."""
    src = with_payload(load_table(spark, sf, "documents"))

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["payload"].map(_fake_decode)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "origin": pdf["media_meta"].map(lambda m: m["origin"]),
                    "payload_len": feats.map(lambda f: f["payload_len"]),
                    "header_hex": feats.map(lambda f: f["header_hex"]),
                    "fake_channels": feats.map(lambda f: f["fake_channels"]),
                }
            )

    return src.mapInPandas(
        extract,
        schema=(
            "doc_id long, origin string, payload_len long, "
            "header_hex string, fake_channels long"
        ),
    )


RESIZE_BYTES = 256
FRAME_BYTES = 64
FRAME_STRIDE = 4


def multimodal_resize(spark: SparkSession, sf: str) -> DataFrame:
    """Payload "resize" (crop-to-budget) via Arrow-batched mapInPandas.

    Stands in for an image resize: the real operation (PIL.thumbnail)
    is unavailable in this container, so the deterministic stand-in
    crops the payload to a fixed byte budget. The plumbing — binary in,
    binary-derived features out, per-batch vectorized loop — is exactly
    the production shape; only the inner transform swaps out.
    """
    import hashlib

    src = with_payload(load_table(spark, sf, "documents"))

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"]]
            cropped = [p[:RESIZE_BYTES] for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "orig_len": [len(p) for p in payloads],
                    "resized_len": [len(c) for c in cropped],
                    # content hash over the lowercase-hex encoding of the
                    # cropped BYTES: byte-exact for any payload (DuckDB's
                    # md5 can't take a BLOB, but both engines can hash
                    # the hex string of the same byte slice)
                    "resized_md5": [
                        hashlib.md5(c.hex().encode()).hexdigest() for c in cropped
                    ],
                }
            )

    return src.mapInPandas(
        resize,
        schema="doc_id long, orig_len long, resized_len long, resized_md5 string",
    )


def multimodal_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Frame sampling: payload → fixed-size frames → every 4th frame.

    The video-pipeline shape: one input row fans out to N output rows
    (sampled frames), each carrying its index and content hash. Runs as
    mapInPandas so frame extraction is batch-local — at 100 TB this is
    embarrassingly parallel with zero shuffle.
    """
    import hashlib

    src = with_payload(load_table(spark, sf, "documents"))

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_len": [], "frame_md5": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                for j in range(0, (len(b) - 1) // FRAME_BYTES + 1, FRAME_STRIDE):
                    fr = b[FRAME_BYTES * j : FRAME_BYTES * (j + 1)]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(j)
                    out["frame_len"].append(len(fr))
                    # hex-encoded hash — see multimodal_resize
                    out["frame_md5"].append(
                        hashlib.md5(fr.hex().encode()).hexdigest()
                    )
            yield pd.DataFrame(out)

    return src.mapInPandas(
        frames,
        schema="doc_id long, frame_idx long, frame_len long, frame_md5 string",
    )


def multimodal_scene_changes(spark: SparkSession, sf: str) -> DataFrame:
    """Scene-change detection shape over the frame stream: a boundary
    is a frame whose content hash differs from the previous frame's —
    the shot-segmentation pass a video pipeline runs before sampling
    keyframes (real detectors threshold a frame-difference metric; the
    hash-inequality stand-in keeps the dataflow identical and exact).
    One per-doc window over the frame table (frames are doc-local, so
    the shuffle is keyed by doc and bounded by frames-per-doc)."""
    from pyspark.sql import Window as W

    frames = multimodal_frame_sample(spark, sf)
    w = W.partitionBy("doc_id").orderBy("frame_idx")
    flagged = frames.withColumn(
        "is_boundary",
        (
            F.lag("frame_md5").over(w).isNull()
            | (F.col("frame_md5") != F.lag("frame_md5").over(w))
        ).cast("long"),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_frames"),
            F.sum("is_boundary").cast("long").alias("n_scenes"),
        )
        .orderBy("doc_id")
    )


def multimodal_audio_rms(spark: SparkSession, sf: str) -> DataFrame:
    """Audio-feature shape: payload bytes as an 8-bit PCM waveform,
    RMS energy per fixed 64-sample window — the windowed-DSP pattern
    (VAD, loudness normalization) over a binary column.

    mapInPandas + NumPy: the sum of squares per window is exact int64
    (byte values ≤ 255 → Σb² ≤ 64·65025, no float accumulation), and
    the final RMS is the single IEEE expression sqrt(ss/n) written
    identically in the oracle — bit-exact parity for a DSP feature.
    Zero shuffle; scales linearly with input splits.
    """
    import numpy as np

    src = with_payload(load_table(spark, sf, "documents"))

    def rms(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "win_idx": [], "n_samples": [], "rms": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = np.frombuffer(bytes(payload), dtype=np.uint8).astype(
                    np.int64
                )
                for j in range(0, (len(b) - 1) // FRAME_BYTES + 1):
                    w = b[FRAME_BYTES * j : FRAME_BYTES * (j + 1)]
                    ss = int((w * w).sum())
                    out["doc_id"].append(doc_id)
                    out["win_idx"].append(j)
                    out["n_samples"].append(len(w))
                    out["rms"].append(float(np.sqrt(ss / len(w))))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        rms, schema="doc_id long, win_idx long, n_samples long, rms double"
    )


AF_WIN = 64  # fingerprint window (samples)
AF_MAX_DF = 50  # drop non-discriminative hashes present in > 50 docs
AF_MIN_SHARED = 3  # docs must share >= 3 fingerprints to match
AF_TOP = 20


def multimodal_audio_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Audio-fingerprint matching (Shazam shape): per 64-sample window
    take the PEAK (max byte, first position on ties), hash consecutive
    peak pairs into landmark fingerprints (value₁, value₂, position
    delta), and match documents sharing >= 3 distinct fingerprints via
    an inverted hash index — candidate generation is the hash-bucket
    join, never an all-pairs compare, with non-discriminative hashes
    (document frequency > 50) pruned exactly like the df pruning in
    dedup_ngram_jaccard. The fake-PCM payload keeps everything
    deterministic; swap the byte source for real audio frames in
    production.

    Plan: fingerprinting is a narrow mapInPandas pass (argmax per
    window in NumPy); one shuffle dedups (doc, hash); the bucket join
    runs on the df-pruned index. Same scale posture as MinHash-LSH.
    """
    import numpy as np

    src = with_payload(load_table(spark, sf, "documents"))

    def fps(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "fh": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = np.frombuffer(bytes(payload), dtype=np.uint8).astype(
                    np.int64
                )
                peaks = []
                for j in range(0, (len(b) - 1) // AF_WIN + 1):
                    w = b[AF_WIN * j : AF_WIN * (j + 1)]
                    off = int(np.argmax(w))  # first max on ties
                    peaks.append((int(w[off]), off))
                for (v1, o1), (v2, o2) in zip(peaks, peaks[1:]):
                    out["doc_id"].append(doc_id)
                    out["fh"].append(
                        (v1 * 256 + v2) * AF_WIN + ((o1 - o2 + AF_WIN) % AF_WIN)
                    )
            yield pd.DataFrame(out)

    idx = src.mapInPandas(fps, schema="doc_id long, fh long").distinct()
    keep = idx.groupBy("fh").agg(F.count("*").alias("df")).filter(
        F.col("df") <= AF_MAX_DF
    )
    pruned = idx.join(F.broadcast(keep.select("fh")), "fh")
    a = pruned.select(F.col("fh"), F.col("doc_id").alias("d1"))
    b = pruned.select(F.col("fh"), F.col("doc_id").alias("d2"))
    return (
        a.join(b, "fh")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= AF_MIN_SHARED)
        .orderBy(F.col("n_shared").desc(), F.col("d1").asc(), F.col("d2").asc())
        .limit(AF_TOP)
    )


def payload_dedup(src: DataFrame) -> DataFrame:
    """Exact dedup over a (doc_id, payload binary) frame: content-hash
    each blob inside Arrow batches (bytes never leave executors), then
    group on the digest. One content-hash shuffle of (hash, id) pairs;
    payload bytes stay scan-local. Exposed separately from the query
    wrapper so tests can feed frames that actually CONTAIN duplicates —
    the fixture corpus has none, which would leave the n_copies /
    canonical-pick logic unexercised.
    """
    import hashlib

    def content_hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content_md5": [
                        hashlib.md5(bytes(p)).hexdigest()
                        for p in pdf["payload"]
                    ],
                }
            )

    hashed = src.mapInPandas(
        content_hash, schema="doc_id long, content_md5 string"
    )
    return hashed.groupBy("content_md5").agg(
        F.count("*").alias("n_copies"),
        F.min("doc_id").alias("canonical_doc_id"),
    )


def multimodal_payload_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Asset-dedup pass an image/video lake runs before feature
    extraction (see ``payload_dedup``), over the fixture payloads."""
    return payload_dedup(with_payload(load_table(spark, sf, "documents")))


PHASH_BITS = 64
PHASH_BANDS = 4  # pigeonhole: Hamming <= 3 pairs always share a band
PHASH_STRIDE = 64


def phash_signatures(src: DataFrame) -> DataFrame:
    """64-bit average-hash over a (doc_id, payload binary) frame.

    The REAL aHash algorithm on stand-in pixels: bit j compares the
    mean of the payload's j-th strided byte lane (bytes j, j+64,
    j+128, …) against the whole-payload mean — decode-to-grayscale is
    the only stubbed step (the container has no codecs; see module
    docstring). The comparison is the integer cross-multiply
    ``lane_sum * n > total * lane_count`` so the signature is exact in
    both engines (no float means). Runs as Arrow-batched mapInPandas
    with NumPy lane sums; zero shuffle, linear in input splits.
    """
    import numpy as np

    def sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "phash": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64)
                n = len(b)
                total = int(b.sum())
                bits = []
                for j in range(PHASH_BITS):
                    lane = b[j::PHASH_STRIDE]
                    bits.append(
                        "1" if int(lane.sum()) * n > total * len(lane) else "0"
                    )
                out["doc_id"].append(doc_id)
                out["phash"].append("".join(bits))
            yield pd.DataFrame(out)

    return src.mapInPandas(sig, schema="doc_id long, phash string")


def multimodal_phash_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual near-dup pairs (Hamming ≤ 3) over payload aHashes —
    the asset-level near-dup pass an image lake runs after exact
    ``multimodal_payload_dedup`` (re-encoded / lightly-edited copies
    share a perceptual hash but not an md5).

    Candidate generation reuses the banded-signature shape proven in
    ``dedup.dedup_simhash_hamming``: split the 64-bit aHash into 4
    bands of 16 bits, equi-join band buckets, then XOR-popcount ONLY
    the candidates — never the O(n²) cross product. Signatures are
    doc-count-sized and cached; at 100 TB the payload bytes are
    touched exactly once (the mapInPandas scan).
    """
    sigs = cached(
        phash_signatures(with_payload(load_table(spark, sf, "documents")))
    )
    bw = PHASH_BITS // PHASH_BANDS
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.expr(
                        f"cast(conv(substring(phash, {bw * b + 1}, {bw}), 2, 10)"
                        " as bigint)"
                    )
                    for b in range(PHASH_BANDS)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a = bands.select(F.col("doc_id").alias("d1"), "band_idx", "band_val")
    b = bands.select(F.col("doc_id").alias("d2"), "band_idx", "band_val")
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
    )
    sigl = sigs.select(
        "doc_id",
        F.expr("cast(conv(substring(phash, 1, 32), 2, 10) as bigint)").alias("hi"),
        F.expr("cast(conv(substring(phash, 33, 32), 2, 10) as bigint)").alias("lo"),
    )
    s1 = sigl.select(
        F.col("doc_id").alias("d1"), F.col("hi").alias("h1"), F.col("lo").alias("l1")
    )
    s2 = sigl.select(
        F.col("doc_id").alias("d2"), F.col("hi").alias("h2"), F.col("lo").alias("l2")
    )
    return (
        cand.join(F.broadcast(s1), "d1")
        .join(F.broadcast(s2), "d2")
        .select(
            "d1",
            "d2",
            (F.expr("bit_count(h1 ^ h2)") + F.expr("bit_count(l1 ^ l2)"))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


QUERIES = {
    "multimodal_audio_rms": multimodal_audio_rms,
    "multimodal_audio_fingerprint": multimodal_audio_fingerprint,
    "multimodal_phash_near_dup": multimodal_phash_near_dup,
    "multimodal_payload_dedup": multimodal_payload_dedup,
    "multimodal_features": multimodal_features,
    "multimodal_resize": multimodal_resize,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_scene_changes": multimodal_scene_changes,
}

ORACLES = {
    # aHash replay on the hex encoding of the payload bytes. NB:
    # DuckDB's // TRUNCATES toward zero (unlike Spark/Python floor),
    # so the lane upper bound guards j >= n with an explicit CASE
    # instead of relying on a negative series stop.
    "multimodal_phash_near_dup": """
        WITH docs AS (
          SELECT doc_id, hex(encode(text)) AS h,
                 octet_length(encode(text)) AS n
          FROM documents
        ),
        tot AS (
          SELECT doc_id, h, n,
                 list_aggregate(list_transform(generate_series(1, CAST(n AS INT)),
                     i -> CAST(CAST(concat('0x', substring(h, 2*i - 1, 2))
                               AS INTEGER) AS BIGINT)),
                   'sum') AS total
          FROM docs
        ),
        bits AS (
          SELECT doc_id, n, total, j.j AS j,
                 coalesce(list_aggregate(list_transform(
                     generate_series(0, CAST(CASE WHEN j.j < n
                                                  THEN (n - 1 - j.j) // 64
                                                  ELSE -1 END AS INT)),
                     k -> CAST(CAST(concat('0x',
                              substring(h, CAST(2*(j.j + 64*k) + 1 AS INT), 2))
                               AS INTEGER) AS BIGINT)),
                   'sum'), 0) AS s,
                 CASE WHEN j.j < n THEN (n - 1 - j.j) // 64 + 1 ELSE 0 END AS cnt
          FROM tot, (SELECT unnest(generate_series(0, 63)) AS j) j
        ),
        sigs AS (
          SELECT doc_id,
                 string_agg(CASE WHEN s * n > total * cnt THEN '1' ELSE '0' END,
                            '' ORDER BY j) AS phash
          FROM bits GROUP BY doc_id, n, total
        ),
        bands AS (
          SELECT doc_id, phash, unnest([0,1,2,3]) AS band_idx,
                 unnest([substring(phash,1,16), substring(phash,17,16),
                         substring(phash,33,16), substring(phash,49,16)]) AS band_val
          FROM sigs
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                 a.phash AS s1, b.phash AS s2
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.band_val = b.band_val
           AND a.doc_id < b.doc_id
        )
        SELECT d1, d2, hamming FROM (
          SELECT d1, d2, CAST(len(list_filter(generate_series(1, 64),
               i -> substring(s1, i, 1) != substring(s2, i, 1))) AS BIGINT)
                 AS hamming
          FROM cand
        ) WHERE hamming <= 3
    """,
    # the payload is the utf-8 encoding of text, and DuckDB's md5 over
    # a VARCHAR hashes its utf-8 bytes — identical digests by design
    "multimodal_payload_dedup": """
        WITH h AS (SELECT doc_id, md5(text) AS content_md5 FROM documents)
        SELECT content_md5, COUNT(*) AS n_copies,
               MIN(doc_id) AS canonical_doc_id
        FROM h GROUP BY content_md5
    """,
    # byte values come from hex pairs of the encoded blob (byte-based,
    # not char-based — valid for any payload); Σb² is integer-exact and
    # the RMS expression matches the Spark side token for token
    # peak key = byte*64 + (64 - i): max byte wins, ties -> smallest
    # in-window position (numpy argmax-first); offset = 63 - key % 64
    "multimodal_audio_fingerprint": f"""
        WITH docs AS (
          SELECT doc_id, hex(encode(text)) AS h,
                 octet_length(encode(text)) AS n
          FROM documents
        ),
        wins AS (
          SELECT doc_id, h, n,
                 unnest(generate_series(0,
                     CAST(ceil(CAST(n AS DOUBLE) / {AF_WIN}) - 1 AS BIGINT)))
                   AS j
          FROM docs
        ),
        peaks AS (
          SELECT doc_id, j,
                 list_aggregate(list_transform(
                     generate_series(1, least({AF_WIN}, n - {AF_WIN} * j)),
                     i -> CAST(CAST(concat('0x',
                              substring(h, CAST({2 * AF_WIN} * j + 2*i - 1
                                        AS INT), 2)) AS INTEGER) AS BIGINT)
                          * {AF_WIN} + ({AF_WIN} - i)), 'max')
                   AS key
          FROM wins
        ),
        fp AS (
          SELECT a.doc_id,
                 ((a.key // {AF_WIN}) * 256 + (b.key // {AF_WIN}))
                   * {AF_WIN}
                 + ((b.key % {AF_WIN} - a.key % {AF_WIN} + {AF_WIN})
                    % {AF_WIN}) AS fh
          FROM peaks a JOIN peaks b
            ON a.doc_id = b.doc_id AND b.j = a.j + 1
        ),
        dfp AS (SELECT DISTINCT doc_id, fh FROM fp),
        keep AS (
          SELECT fh FROM dfp GROUP BY fh HAVING COUNT(*) <= {AF_MAX_DF}
        )
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM dfp a JOIN dfp b ON a.fh = b.fh AND a.doc_id < b.doc_id
             JOIN keep k ON a.fh = k.fh
        GROUP BY 1, 2 HAVING COUNT(*) >= {AF_MIN_SHARED}
        ORDER BY n_shared DESC, d1, d2 LIMIT {AF_TOP}
    """,
    "multimodal_audio_rms": """
        WITH docs AS (
          SELECT doc_id, hex(encode(text)) AS h,
                 octet_length(encode(text)) AS n
          FROM documents
        ),
        wins AS (
          SELECT doc_id, h, n,
                 unnest(generate_series(0,
                     CAST(ceil(CAST(n AS DOUBLE) / 64) - 1 AS BIGINT)))
                   AS win_idx
          FROM docs
        ),
        stats AS (
          SELECT doc_id, win_idx,
                 least(64, n - 64 * win_idx) AS n_samples,
                 list_aggregate(list_transform(
                     generate_series(1, least(64, n - 64 * win_idx)),
                     i -> CAST(CAST(concat('0x',
                              substring(h, CAST(128 * win_idx + 2*i - 1
                                        AS INT), 2)) AS INTEGER) AS BIGINT)
                          * CAST(concat('0x',
                              substring(h, CAST(128 * win_idx + 2*i - 1
                                        AS INT), 2)) AS INTEGER)), 'sum')
                   AS ss
          FROM wins
        )
        SELECT doc_id, win_idx, CAST(n_samples AS BIGINT) AS n_samples,
               sqrt(CAST(ss AS DOUBLE) / CAST(n_samples AS DOUBLE)) AS rms
        FROM stats
    """,
    # the stub decode is pure BYTE arithmetic; oracles operate on the
    # hex encoding of the utf-8 bytes (2 hex chars per byte), so every
    # offset, length, and hash below is byte-exact even for multibyte
    # text — DuckDB has no BLOB substring/md5, hex-slicing is the
    # portable equivalent.
    "multimodal_features": """
        SELECT doc_id,
               source AS origin,
               CAST(octet_length(encode(text)) AS BIGINT) AS payload_len,
               lower(substring(hex(encode(text)), 1, 16)) AS header_hex,
               CAST(octet_length(encode(text)) % 3 + 1 AS BIGINT) AS fake_channels
        FROM documents
    """,
    "multimodal_resize": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS orig_len,
               CAST(least(octet_length(encode(text)), 256) AS BIGINT) AS resized_len,
               md5(lower(substring(hex(encode(text)), 1, 512))) AS resized_md5
        FROM documents
    """,
    "multimodal_scene_changes": """
        WITH frames AS (
          SELECT d.doc_id,
                 CAST(t.j AS BIGINT) AS frame_idx,
                 md5(lower(substring(hex(encode(d.text)), 1 + 128*t.j, 128)))
                   AS frame_md5
          FROM documents d,
               LATERAL (
                 SELECT unnest(generate_series(
                   0, CAST(floor((octet_length(encode(d.text)) - 1) / 64.0)
                           AS INT))) AS j
               ) t
          WHERE t.j % 4 = 0
        ),
        flagged AS (
          SELECT doc_id,
                 CASE WHEN LAG(frame_md5) OVER w IS NULL
                        OR frame_md5 != LAG(frame_md5) OVER w
                      THEN 1 ELSE 0 END AS is_boundary
          FROM frames
          WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)
        )
        SELECT doc_id, COUNT(*) AS n_frames,
               CAST(SUM(is_boundary) AS BIGINT) AS n_scenes
        FROM flagged GROUP BY doc_id ORDER BY doc_id
    """,
    "multimodal_frame_sample": """
        SELECT d.doc_id,
               CAST(t.j AS BIGINT) AS frame_idx,
               CAST(octet_length(from_hex(substring(hex(encode(d.text)), 1 + 128*t.j, 128)))
                    AS BIGINT) AS frame_len,
               md5(lower(substring(hex(encode(d.text)), 1 + 128*t.j, 128))) AS frame_md5
        FROM documents d,
             LATERAL (
               SELECT unnest(generate_series(
                 0, CAST(floor((octet_length(encode(d.text)) - 1) / 64.0) AS INT))) AS j
             ) t
        WHERE t.j % 4 = 0
    """,
}


TRIM_THRESH_MSQ = 9600  # window is "silence" if Σb² < thresh · n_samples


def multimodal_silence_trim(spark: SparkSession, sf: str) -> DataFrame:
    """Energy-based edge trim (the VAD preprocessing step): reusing
    the windowed sum-of-squares frame from ``multimodal_audio_rms``,
    windows below a mean-square threshold are "silence", and each
    asset keeps only [first active … last active] — leading/trailing
    low-energy content is trimmed, interior quiet passages are KEPT
    (that's what distinguishes edge-trim from gating). Folded per
    source: assets, windows, windows trimmed from each edge, and
    fully-silent assets (dropped whole).

    Composition shape: relational window aggregation ON TOP of a
    mapInPandas DSP frame — the energy pass is executor-local NumPy
    over Arrow batches (exact int64 Σb²), the trim decision is a
    doc-keyed min/max aggregate, all thresholds integer
    cross-multiplies. No float accumulation anywhere.
    """
    import numpy as np

    src = with_payload(load_table(spark, sf, "documents"))

    def energy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "win_idx": [], "n_samples": [], "ss": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = np.frombuffer(bytes(payload), dtype=np.uint8).astype(
                    np.int64
                )
                for j in range(0, (len(b) - 1) // FRAME_BYTES + 1):
                    w = b[FRAME_BYTES * j : FRAME_BYTES * (j + 1)]
                    out["doc_id"].append(doc_id)
                    out["win_idx"].append(j)
                    out["n_samples"].append(len(w))
                    out["ss"].append(int((w * w).sum()))
            yield pd.DataFrame(out)

    wins = src.mapInPandas(
        energy, schema="doc_id long, win_idx long, n_samples long, ss long"
    )
    active = F.col("ss") >= F.lit(TRIM_THRESH_MSQ) * F.col("n_samples")
    per_doc = wins.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_windows"),
        F.min(F.when(active, F.col("win_idx"))).alias("first_active"),
        F.max(F.when(active, F.col("win_idx"))).alias("last_active"),
    )
    docs = load_table(spark, sf, "documents").select("doc_id", "source")
    return (
        per_doc.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_assets"),
            F.sum("n_windows").cast("long").alias("n_windows"),
            F.sum(F.coalesce(F.col("first_active"), F.lit(0)))
            .cast("long")
            .alias("lead_trimmed"),
            F.sum(
                F.when(
                    F.col("last_active").isNotNull(),
                    F.col("n_windows") - 1 - F.col("last_active"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("tail_trimmed"),
            F.sum(F.col("first_active").isNull().cast("long"))
            .cast("long")
            .alias("all_silent_assets"),
        )
        .orderBy("source")
    )


QUERIES["multimodal_silence_trim"] = multimodal_silence_trim
ORACLES["multimodal_silence_trim"] = f"""
WITH docs AS (
  SELECT doc_id, source, hex(encode(text)) AS h,
         octet_length(encode(text)) AS n
  FROM documents
),
wins AS (
  SELECT doc_id, source, h, n,
         unnest(generate_series(0,
             CAST(ceil(CAST(n AS DOUBLE) / {FRAME_BYTES}) - 1 AS BIGINT)))
           AS win_idx
  FROM docs
),
stats AS (
  SELECT doc_id, source, win_idx,
         least({FRAME_BYTES}, n - {FRAME_BYTES} * win_idx) AS ns,
         list_aggregate(list_transform(
             generate_series(1, least({FRAME_BYTES},
                                      n - {FRAME_BYTES} * win_idx)),
             i -> CAST(CAST(concat('0x',
                      substring(h, CAST({2 * FRAME_BYTES} * win_idx + 2*i - 1
                                AS INT), 2)) AS INTEGER) AS BIGINT)
                  * CAST(concat('0x',
                      substring(h, CAST({2 * FRAME_BYTES} * win_idx + 2*i - 1
                                AS INT), 2)) AS INTEGER)), 'sum')
           AS ss
  FROM wins
),
per_doc AS (
  SELECT doc_id, any_value(source) AS source,
         CAST(COUNT(*) AS BIGINT) AS n_windows,
         MIN(CASE WHEN ss >= {TRIM_THRESH_MSQ} * ns THEN win_idx END)
           AS first_active,
         MAX(CASE WHEN ss >= {TRIM_THRESH_MSQ} * ns THEN win_idx END)
           AS last_active
  FROM stats GROUP BY doc_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_assets,
       CAST(SUM(n_windows) AS BIGINT) AS n_windows,
       CAST(SUM(COALESCE(first_active, 0)) AS BIGINT) AS lead_trimmed,
       CAST(SUM(CASE WHEN last_active IS NOT NULL
                     THEN n_windows - 1 - last_active ELSE 0 END) AS BIGINT)
         AS tail_trimmed,
       CAST(SUM(CASE WHEN first_active IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS all_silent_assets
FROM per_doc GROUP BY source ORDER BY source
"""


# -- aspect-ratio bucketing -------------------------------------------
# SDXL-style training buckets: aspect ratio in exact milli units; each
# image snaps to the nearest bucket (|ar − b| asc, then smaller b on
# exact midpoints). Fake dims derive from the payload byte length with
# coprime multipliers so the fixture exercises many ratios.
ASPECT_BUCKETS = (500, 750, 1000, 1333, 2000)


def multimodal_aspect_bucket(spark: SparkSession, sf: str) -> DataFrame:
    """Aspect-ratio bucketing for image training batches: decode each
    payload's (width, height) — STUBBED deterministically from the
    byte length, the real decoder being a PIL header read — compute
    the exact milli aspect ratio, snap to the nearest of
    ASPECT_BUCKETS, and report per-bucket membership + ratio spread.
    Batch composers group same-bucket images so a batch shares one
    crop geometry; the histogram is how you validate the bucket list
    covers the corpus before training.

    Plumbing is the real shape: binary in via Arrow-batched
    mapInPandas, integer dims out, bucket snap as pure Column
    arithmetic (scan-local, one sources×buckets groupBy — no shuffle
    wider than the bucket list even at 100 TB).
    """
    import numpy as np

    src = with_payload(load_table(spark, sf, "documents"))

    def decode_dims(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf["payload"].map(len).to_numpy(dtype="int64")
            # STUB decode: header-read stand-in (deterministic, coprime
            # multipliers spread lengths over many width/height pairs)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": 256 + (n * 7919) % 1024,
                    "height": 256 + (n * 104729) % 1024,
                }
            )

    dims = src.mapInPandas(
        decode_dims, "doc_id long, width long, height long"
    )
    ar = dims.select(
        "doc_id",
        F.floor(F.col("width") * F.lit(1000) / F.col("height"))
        .cast("long")
        .alias("ar_milli"),
    )
    buckets = F.array(*[F.lit(b) for b in ASPECT_BUCKETS])
    snapped = ar.select(
        "ar_milli",
        F.aggregate(
            buckets,
            F.lit(-1).cast("long"),
            lambda best, b: F.when(
                (best < 0)
                | (F.abs(b - F.col("ar_milli")) < F.abs(best - F.col("ar_milli"))),
                b.cast("long"),
            ).otherwise(best),
        ).alias("bucket_milli"),
    )
    return (
        snapped.groupBy("bucket_milli")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.min("ar_milli").cast("long").alias("min_ar_milli"),
            F.max("ar_milli").cast("long").alias("max_ar_milli"),
        )
        .orderBy("bucket_milli")
    )


QUERIES["multimodal_aspect_bucket"] = multimodal_aspect_bucket
_BUCKET_LIST = ", ".join(str(b) for b in ASPECT_BUCKETS)
ORACLES["multimodal_aspect_bucket"] = f"""
WITH dims AS (
  SELECT doc_id,
         256 + (strlen(text) * 7919) % 1024 AS width,
         256 + (strlen(text) * 104729) % 1024 AS height
  FROM documents
),
ar AS (SELECT doc_id, width * 1000 // height AS ar_milli FROM dims),
snapped AS (
  SELECT ar_milli,
         (SELECT b FROM unnest([{_BUCKET_LIST}]) AS t(b)
          ORDER BY abs(b - ar_milli), b LIMIT 1) AS bucket_milli
  FROM ar
)
SELECT CAST(bucket_milli AS BIGINT) AS bucket_milli,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(MIN(ar_milli) AS BIGINT) AS min_ar_milli,
       CAST(MAX(ar_milli) AS BIGINT) AS max_ar_milli
FROM snapped GROUP BY bucket_milli ORDER BY bucket_milli
"""


# -- per-channel color histogram --------------------------------------

HIST_CHANNELS = 3  # fake-decode: bytes as interleaved RGB triples
HIST_BUCKET_SHIFT = 6  # byte >> 6 → 4 intensity buckets per channel


def multimodal_color_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Per-channel intensity histogram over "decoded" pixels, rolled
    up by origin — the color-statistics pass vision pipelines run for
    normalization constants and black/blank-frame screening. The stub
    decode reads the payload as interleaved RGB byte triples
    (channel = byte_pos % 3, intensity = byte value); a real decoder
    drops in at the np.frombuffer line without touching the plumbing.

    ASCII-only payloads are selected first (octet_length == char
    length, checked identically in both engines) so byte values equal
    code points and the oracle can replay the histogram from the text
    column. Plan at 100 TB: one Arrow-batched mapInPandas pass
    (vectorized numpy bincount per item, no per-byte Python), emitting
    ≤ channels×buckets partial rows per item; the (origin, channel,
    bucket) rollup is map-side combined — shuffle is statistics-sized,
    not pixel-sized.
    """
    import numpy as np

    docs = load_table(spark, sf, "documents").where(
        F.octet_length("text") == F.length("text")
    )
    src = with_payload(docs)
    n_buckets = 256 >> HIST_BUCKET_SHIFT

    def hist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            origins, chans, buckets, counts, vsums = [], [], [], [], []
            for origin, payload in zip(
                pdf["media_meta"].map(lambda m: m["origin"]), pdf["payload"]
            ):
                a = np.frombuffer(bytes(payload), dtype=np.uint8)
                for c in range(HIST_CHANNELS):
                    ch = a[c::HIST_CHANNELS]
                    if ch.size == 0:
                        continue
                    b = ch >> HIST_BUCKET_SHIFT
                    cnt = np.bincount(b, minlength=n_buckets)
                    vs = np.bincount(
                        b, weights=ch.astype(np.int64), minlength=n_buckets
                    ).astype(np.int64)
                    for k in range(n_buckets):
                        if cnt[k]:
                            origins.append(origin)
                            chans.append(c)
                            buckets.append(k)
                            counts.append(int(cnt[k]))
                            vsums.append(int(vs[k]))
            yield pd.DataFrame(
                {
                    "origin": pd.Series(origins, dtype="object"),
                    "channel": pd.Series(chans, dtype="int64"),
                    "bucket": pd.Series(buckets, dtype="int64"),
                    "n_bytes": pd.Series(counts, dtype="int64"),
                    "value_sum": pd.Series(vsums, dtype="int64"),
                }
            )

    partials = src.mapInPandas(
        hist,
        schema=(
            "origin string, channel long, bucket long, "
            "n_bytes long, value_sum long"
        ),
    )
    return (
        partials.groupBy("origin", "channel", "bucket")
        .agg(
            F.sum("n_bytes").cast("long").alias("n_bytes"),
            F.sum("value_sum").cast("long").alias("value_sum"),
        )
        .orderBy("origin", "channel", "bucket")
    )


QUERIES["multimodal_color_histogram"] = multimodal_color_histogram
ORACLES["multimodal_color_histogram"] = f"""
WITH d AS (
  SELECT source AS origin, text FROM documents
  WHERE octet_length(encode(text)) = length(text)
),
b AS (
  SELECT origin,
         CAST((i - 1) % {HIST_CHANNELS} AS BIGINT) AS channel,
         ascii(substring(text, i, 1)) AS v
  FROM (SELECT origin, text,
               unnest(generate_series(1, length(text))) AS i
        FROM d)
)
SELECT origin, channel,
       CAST(v // {1 << HIST_BUCKET_SHIFT} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_bytes,
       CAST(SUM(v) AS BIGINT) AS value_sum
FROM b GROUP BY origin, channel, bucket
ORDER BY origin, channel, bucket
"""
