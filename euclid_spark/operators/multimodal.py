"""Multimodal column plumbing (SURVEY.md §2.C11).

Pattern for 100 TB multimodal corpora: media lives in opaque `binary`
columns beside typed metadata; decode / feature-extraction runs as
Arrow-batched `mapInPandas` so each task streams record batches without
materializing a partition, and the pre-decode projection prunes to only
the columns the extractor needs.

Decode: BMP and PPM payloads decode FOR REAL (stdlib-only parsers,
functions/imaging.py — their specs are header + raw pixels, no codec
needed), and features run over the decoded pixel buffer. Every other
modality (JPEG/PNG/audio/video need codecs this container does not
ship) stays on the deterministic byte-stat path over the raw payload —
the plumbing (schema, batching, partitioning) is identical either way,
so a real codec slots into `decode_real` without touching the plan.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from euclid_spark import artifacts
from euclid_spark.catalog import cached_parquet

from euclid_spark.functions.imaging import decode_image

FEATURE_SCHEMA = (
    "doc_id long, modality string, n_bytes int, payload_md5 string, "
    "f_mean double, f_head double, f_tail double, f_spread double"
)

# modalities with a real decoder in this environment
_DECODABLE = {"image/bmp", "image/x-portable-pixmap", "image/png"}


def decode_real(payload: bytes) -> np.ndarray:
    """REAL media decode: BMP/PPM → (h, w, 3) uint8 RGB pixels
    (functions/imaging.py). Formats needing actual codecs (JPEG, PNG,
    audio, video) raise NotImplementedError — PIL/ffmpeg are not in this
    container; they would slot in here."""
    return decode_image(payload)


def _extract_batch(
    payloads: "list[bytes | None]",
    modalities: "list[str] | None" = None,
) -> "dict[str, np.ndarray]":
    """Feature extractor over the DECODED content: image modalities
    (BMP/PPM) decode to pixel buffers via decode_real; everything else
    uses its raw bytes. Decode is per-row (that is what real decoders
    are), but every statistic is then a segmented numpy reduction over
    ONE contiguous uint8 buffer (`np.add.reduceat` over segment
    offsets) — no per-row Python in the reduction."""
    if modalities is not None:
        payloads = [
            decode_real(p).tobytes() if (p and m in _DECODABLE) else p
            for p, m in zip(payloads, modalities)
        ]
    n = len(payloads)
    lens = np.fromiter(
        (len(p) if p is not None else 0 for p in payloads), np.int64, count=n
    )
    out = {
        "f_mean": np.zeros(n), "f_head": np.zeros(n),
        "f_tail": np.zeros(n), "f_spread": np.zeros(n),
    }
    nz = lens > 0
    if not nz.any():
        return out
    data = np.frombuffer(
        b"".join(p for p in payloads if p), dtype=np.uint8
    ).astype(np.int64)
    seg = lens[nz]
    starts = np.concatenate(([0], np.cumsum(seg)[:-1]))
    # segments are contiguous and cover `data` exactly → reduceat over the
    # start offsets is the per-row reduction
    sums = np.add.reduceat(data, starts)
    spread = np.maximum.reduceat(data, starts) - np.minimum.reduceat(data, starts)
    # head/tail sums: paired offsets [start, start+h) — interleave starts
    # and ends and keep the even positions; the sentinel byte keeps the
    # final (empty) odd segment in-bounds without affecting any even one
    h = np.minimum(16, seg)
    data_s = np.append(data, 0)

    def _ranged(lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
        idx = np.empty(2 * len(lo), dtype=np.int64)
        idx[0::2], idx[1::2] = lo, hi
        return np.add.reduceat(data_s, idx)[0::2]

    out["f_mean"][nz] = np.round(sums / seg, 6)
    out["f_head"][nz] = (_ranged(starts, starts + h) % 256).astype(float)
    out["f_tail"][nz] = (_ranged(starts + seg - h, starts + seg) % 256).astype(float)
    out["f_spread"][nz] = spread.astype(float)
    return out


def _feature_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        feats = _extract_batch(list(pdf["payload"]), list(pdf["modality"]))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "modality": pdf["modality"],
                "n_bytes": pdf["n_bytes"],
                "payload_md5": pdf["payload_md5"],
                **feats,
            }
        )


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach an opaque binary payload + typed metadata (the multimodal
    table shape). Here the payload is the utf-8 text; for real corpora
    it is the image/audio bytes, same schema."""
    payload = F.encode("text", "utf-8")
    return docs.select(
        "doc_id",
        F.lit("text/plain").alias("modality"),
        payload.alias("payload"),
        F.length(payload).alias("n_bytes"),
        F.md5(payload).alias("payload_md5"),
    )


def mm_binary_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C11 — binary-column pipeline: metadata projection stays columnar;
    only (doc_id, payload, metadata) flows into the Arrow extractor."""
    docs = cached_parquet(spark, f"{sf_dir}/documents.parquet")
    binary = with_binary_payload(docs)
    return binary.mapInPandas(_feature_batches, schema=FEATURE_SCHEMA)


CHUNK = 100  # payload chunk size (bytes/chars) — the frame-sampling unit


def mm_chunk_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C15 — chunking / frame-sampling plumbing: split each payload into
    fixed-size chunks, one output row per chunk with its fingerprint —
    the layout step before per-frame decode (video frame sampling, audio
    windowing). Pure posexplode over a generated index — columnar
    end-to-end, no UDF; chunk count scales with payload size, rows stay
    bounded per task."""
    docs = cached_parquet(spark, f"{sf_dir}/documents.parquet")
    n_chunks = F.ceil(F.length("text") / F.lit(CHUNK)).cast("int")
    # empty/NULL text ⇒ n_chunks 0/NULL: unguarded sequence(0, -1) would
    # count DOWN (emitting bogus chunk_idx 0 and -1); an empty array
    # explodes to no rows, matching the oracle's empty range(0, 0)
    idx = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    chunk_of = lambda i: F.col("text").substr(  # noqa: E731
        i * CHUNK + 1, F.lit(CHUNK)
    )
    return docs.select(
        "doc_id", "text", F.posexplode(idx).alias("chunk_idx", "i")
    ).select(
        "doc_id",
        "chunk_idx",
        F.md5(chunk_of(F.col("i"))).alias("chunk_md5"),
        F.length(chunk_of(F.col("i"))).alias("chunk_len"),
    )


FRAME_STRIDE = 3  # sample every 3rd frame
RESIZE_K = 4  # keep every 4th byte of a sampled frame ("thumbnail")


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C20 — frame sampling + resize plumbing: of the payload's
    fixed-size frames, keep every FRAME_STRIDE-th, and derive a
    byte-strided "thumbnail" (every RESIZE_K-th byte) per kept frame —
    the deterministic stand-ins for video frame-sampling and image
    resize (the real decoders slot into the same rows; see the C11
    stub). All columnar: a stepped `sequence` generates the sampled
    frame indices, higher-order `transform` does the stride — no UDF,
    output rows ∝ payload size / (FRAME · STRIDE)."""
    docs = cached_parquet(spark, f"{sf_dir}/documents.parquet")
    n_frames = F.ceil(F.length("text") / F.lit(CHUNK)).cast("int")
    # empty/NULL text ⇒ n_frames 0/NULL: sequence(0, -1, 3) throws
    # 'Illegal sequence boundaries' (start > stop with positive step);
    # guard to an empty array → explode drops the row, like the oracle's
    # empty range(0, 0, 3)
    sampled = F.when(
        n_frames > 0, F.sequence(F.lit(0), n_frames - 1, F.lit(FRAME_STRIDE))
    ).otherwise(F.array().cast("array<int>"))
    frame = F.col("text").substr(F.col("frame_idx") * CHUNK + 1, F.lit(CHUNK))
    rows = docs.select(
        "doc_id", "text", F.explode(sampled).alias("frame_idx")
    ).withColumn("frame", frame)
    resized = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length("frame"), F.lit(1)), F.lit(RESIZE_K)),
            lambda p: F.substring(F.col("frame"), p, 1),
        ),
        "",
    )
    return rows.select(
        "doc_id",
        "frame_idx",
        F.md5("frame").alias("frame_md5"),
        F.length("frame").alias("frame_len"),
        F.md5(resized).alias("resized_md5"),
        F.length(resized).alias("resized_len"),
    )


AUDIO_WIN = 256        # samples per analysis window
SILENCE_RMS = 1000.0   # windows below this RMS count as silence

AUDIO_SCHEMA = (
    "doc_id long, n_samples long, n_windows long, "
    "rms_mean double, rms_max double, silence_frac double"
)


def _audio_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-doc windowed PCM energy, numpy-vectorized per Arrow batch:
    bytes → int16 little-endian samples → per-window RMS via one
    reshape (no per-window Python loop)."""
    for pdf in it:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            # NULL payload (e.g. NULL text upstream): an empty clip row,
            # not a crash — production feeds carry NULLs
            buf = bytes(payload) if payload is not None else b""
            buf = buf[: len(buf) // 2 * 2]  # PCM16: drop a trailing odd byte
            x = np.frombuffer(buf, dtype="<i2").astype(np.float64)
            n = len(x)
            nw = n // AUDIO_WIN
            if nw == 0:
                rows.append((doc_id, n, 0, 0.0, 0.0, 0.0))
                continue
            w = x[: nw * AUDIO_WIN].reshape(nw, AUDIO_WIN)
            rms = np.sqrt((w * w).mean(axis=1))
            rows.append(
                (
                    doc_id,
                    n,
                    nw,
                    round(float(rms.mean()), 4),
                    round(float(rms.max()), 4),
                    round(float((rms < SILENCE_RMS).mean()), 4),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "n_samples", "n_windows",
                "rms_mean", "rms_max", "silence_frac",
            ],
        )


def mm_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C40 — AUDIO WINDOW ENERGY over raw PCM payloads: the payload
    bytes read as 16-bit little-endian samples (raw PCM IS the decoded
    form — no codec needed, unlike the compressed modalities gated
    behind decode_real), per-window RMS / peak / silence fraction —
    the standard VAD-style triage signals an audio-corpus pipeline
    computes at ingest (which clips are silence, which clip levels).

    Same scale shape as C11: projection prunes to (doc_id, payload)
    before the Arrow exchange; the extractor is numpy-vectorized per
    record batch (one reshape per doc, no per-window loop); output is
    one bounded row per document. Rows-only for the gate (binary →
    numeric arrays is engine-side by definition); the semantics are
    pinned by a pure-numpy reference comparison in
    tests/test_multimodal.py."""
    docs = cached_parquet(spark, f"{sf_dir}/documents.parquet")
    binary = with_binary_payload(docs).select("doc_id", "payload")
    return binary.mapInPandas(_audio_batches, schema=AUDIO_SCHEMA)


MM_AUDIO = artifacts.Artifact(
    "mm_audio", "documents", dict(op="mm_audio", v=1)
)


def _mm_audio_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C40 audio-energy output as a fingerprint-keyed artifact —
    the mm_features discipline applied to the audio triage signals."""
    return artifacts.serve_frame(
        spark, MM_AUDIO.path(sf_dir), lambda: mm_audio_energy(spark, sf_dir)
    )


SILENT_FRAC = 0.5  # a clip mostly under the silence floor is "quiet"


def mm_audio_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C58 — AUDIO TRIAGE REPORT (r13): the corpus-level VAD summary an
    audio pipeline acts on — clip counts, sample mass, and the
    loud/quiet split (silence_frac > SILENT_FRAC) with decimal-
    accumulated level means, off the SERVED C40 energy signals. The
    extractor stays rows-only; this consumer face is hash-checked via
    artifact-as-oracle-input (the C56/C57 pattern — the third rows-only
    family bound into a DuckDB-verified hash this round): corrupt one
    served rms and the hash flips.

    Scale shape: one pruned scan of the index-sized served artifact,
    one bounded (bool) aggregate, B57 decimal-sum rule for the float
    means."""
    a = _mm_audio_served(spark, sf_dir).filter(F.col("n_windows") > 0)

    def _avg(c: str) -> F.Column:
        return F.round(
            F.sum(F.col(c).cast("decimal(38,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias(f"avg_{c}")

    return (
        a.groupBy(
            (F.col("silence_frac") > F.lit(SILENT_FRAC)).alias("quiet")
        )
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum("n_samples").alias("total_samples"),
            F.sum("n_windows").alias("total_windows"),
            _avg("rms_mean"),
            _avg("rms_max"),
            _avg("silence_frac"),
        )
    )


def _oracle_mm_audio_triage(sf_dir: str) -> str:
    path = MM_AUDIO.path(sf_dir)

    def avg(c):
        return (f"ROUND(CAST(SUM(CAST({c} AS DECIMAL(38,9))) AS DOUBLE)"
                f" / COUNT(*), 6) AS avg_{c}")

    return f"""
        SELECT silence_frac > {SILENT_FRAC} AS quiet,
               CAST(COUNT(*) AS BIGINT) AS n_clips,
               CAST(SUM(n_samples) AS BIGINT) AS total_samples,
               CAST(SUM(n_windows) AS BIGINT) AS total_windows,
               {avg('rms_mean')}, {avg('rms_max')}, {avg('silence_frac')}
        FROM read_parquet('{path}/*.parquet')
        WHERE n_windows > 0
        GROUP BY 1
    """


MM_FEATURES = artifacts.Artifact(
    "mm_features", "documents", dict(op="mm_features", v=1)
)


def _mm_features_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C11 extractor output as a fingerprint-keyed artifact —
    extract once per corpus version, serve every consumer (the BPE /
    doc_signals discipline applied to the multimodal features)."""
    return artifacts.serve_frame(
        spark, MM_FEATURES.path(sf_dir), lambda: mm_binary_pipeline(spark, sf_dir)
    )


def mm_feature_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C57 — MULTIMODAL FEATURE CENSUS (r13): per modality, corpus
    counts, byte mass, distinct-payload count and the decimal-
    accumulated means of every extracted feature, off the SERVED C11
    extractor output. The extractor itself stays rows-only (its output
    IS the extraction — an oracle restating it would be vacuous), but
    this CONSUMER face is hash-checked via artifact-as-oracle-input
    (the C56/BPE precedent), so the extracted feature values are bound
    into a DuckDB-verified result: corrupt one f_mean and the hash
    flips.

    Scale shape: two pruned scans of the index-sized served artifact —
    the stat aggregate (decimal sums keep the float means order-
    independent, the B57 rule) and a two-level distinct on
    (modality, payload_md5); keeping the distinct out of the stat
    aggregate avoids the r12 multi-distinct Expand trap."""
    f = _mm_features_served(spark, sf_dir)

    def _avg(c: str) -> F.Column:
        return F.round(
            F.sum(F.col(c).cast("decimal(38,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias(f"avg_{c}")

    base = f.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_bytes").cast("long")).alias("total_bytes"),
        _avg("f_mean"),
        _avg("f_head"),
        _avg("f_tail"),
        _avg("f_spread"),
    )
    dist = (
        f.select("modality", "payload_md5")
        .distinct()
        .groupBy("modality")
        .agg(F.count(F.lit(1)).alias("n_distinct_payloads"))
    )
    return base.join(dist, "modality").select(
        "modality", "n_docs", "total_bytes", "n_distinct_payloads",
        "avg_f_mean", "avg_f_head", "avg_f_tail", "avg_f_spread",
    )


def _oracle_mm_feature_census(sf_dir: str) -> str:
    path = MM_FEATURES.path(sf_dir)

    def avg(c):
        return (f"ROUND(CAST(SUM(CAST({c} AS DECIMAL(38,9))) AS DOUBLE)"
                f" / COUNT(*), 6) AS avg_{c}")

    return f"""
        WITH f AS (SELECT * FROM read_parquet('{path}/*.parquet')),
        base AS (
            SELECT modality, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
                   {avg('f_mean')}, {avg('f_head')},
                   {avg('f_tail')}, {avg('f_spread')}
            FROM f GROUP BY 1
        ),
        dist AS (
            SELECT modality, CAST(COUNT(*) AS BIGINT) AS n_distinct_payloads
            FROM (SELECT DISTINCT modality, payload_md5 FROM f)
            GROUP BY 1
        )
        SELECT b.modality, b.n_docs, b.total_bytes, d.n_distinct_payloads,
               b.avg_f_mean, b.avg_f_head, b.avg_f_tail, b.avg_f_spread
        FROM base b JOIN dist d USING (modality)
    """


QUERIES = {
    "mm_binary_pipeline": mm_binary_pipeline,
    "mm_chunk_fingerprints": mm_chunk_fingerprints,
    "mm_frame_sample": mm_frame_sample,
    "mm_audio_energy": mm_audio_energy,
    "mm_feature_census": mm_feature_census,
    "mm_audio_triage": mm_audio_triage,
}

# mm_binary_pipeline is rows-only: the extractor is engine-side by
# definition (that's the point of the stub). Chunking is deterministic →
# oracle-checked.
ORACLES: dict[str, str] = {
    "mm_frame_sample": f"""
        WITH fr AS (
            SELECT doc_id, i,
                   substr(text, 1 + {CHUNK} * i, {CHUNK}) AS frame
            FROM (
                SELECT doc_id, text,
                       unnest(range(0,
                           CAST(ceil(length(text) / {CHUNK}.0) AS BIGINT),
                           {FRAME_STRIDE})) AS i
                FROM documents
            )
        ),
        rz AS (
            SELECT doc_id, i, frame,
                   array_to_string(list_transform(
                       range(1, length(frame) + 1, {RESIZE_K}),
                       p -> substr(frame, CAST(p AS INT), 1)), '') AS resized
            FROM fr
        )
        SELECT doc_id, CAST(i AS INT) AS frame_idx,
               md5(frame) AS frame_md5,
               CAST(length(frame) AS INT) AS frame_len,
               md5(resized) AS resized_md5,
               CAST(length(resized) AS INT) AS resized_len
        FROM rz
    """,
    "mm_chunk_fingerprints": f"""
        SELECT doc_id,
               CAST(i AS INT) AS chunk_idx,
               md5(substr(text, 1 + {CHUNK} * i, {CHUNK})) AS chunk_md5,
               CAST(length(substr(text, 1 + {CHUNK} * i, {CHUNK})) AS INT)
                   AS chunk_len
        FROM (
            SELECT doc_id, text,
                   unnest(range(0, CAST(ceil(length(text) / {CHUNK}.0) AS BIGINT)))
                       AS i
            FROM documents
        )
    """,
}


# -------------------------------------------- C50: perceptual image dedup
IMG_H, IMG_W = 24, 24          # synthetic corpus image size
DHASH_BANDS = 4                # 16-bit bands over the 64-bit hash
DHASH_MAX_HAMMING = 10         # flag pairs at or under this distance
DHASH_MAX_BUCKET = 100         # band-bucket skew cap (the C2/C3 guard)
DHASH_SCHEMA = ("doc_id long, dhash long, img_w int, img_h int, "
                "decode_error string")


def dhash64(pixels: np.ndarray) -> int:
    """64-bit DIFFERENCE HASH (dHash, public: Krawetz 2013 "Kind of
    Like That"): grayscale → block-average to 8 rows × 9 cols → bit =
    left cell brighter than its right neighbor. Invariant to uniform
    brightness/contrast changes (monotone per-pixel maps preserve every
    comparison) and robust to small local edits — the standard cheap
    perceptual near-dup signature."""
    gray = pixels.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    rows = np.array_split(np.arange(h), 8)
    cols = np.array_split(np.arange(w), 9)
    grid = np.empty((8, 9))
    for r, ri in enumerate(rows):
        for c, ci in enumerate(cols):
            grid[r, c] = gray[np.ix_(ri, ci)].mean()
    bits = (grid[:, :-1] > grid[:, 1:]).flatten()
    val = 0
    for i, b in enumerate(bits):
        if b:
            val |= 1 << i
    # store in a signed BIGINT column: fold bit 63 into the sign
    return val - (1 << 64) if val >= (1 << 63) else val


def with_image_payload(docs: DataFrame) -> DataFrame:
    """Synthetic-but-REAL image corpus: each doc's utf-8 bytes are laid
    out LOCALITY-PRESERVINGLY into an (IMG_H, IMG_W, 3) pixel grid and
    encoded through the real BMP writer — so the dHash pipeline below
    exercises an actual decode, and near-identical texts yield
    near-identical images (unlike an md5-seeded fill, which would
    destroy the nearness this operator exists to detect)."""
    from euclid_spark.functions.imaging import encode_bmp

    n = IMG_H * IMG_W * 3

    @F.pandas_udf("binary")
    def to_bmp(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            raw = (t or "").encode("utf-8")[:n]
            buf = np.zeros(n, dtype=np.uint8)
            buf[: len(raw)] = np.frombuffer(raw, dtype=np.uint8)
            out.append(encode_bmp(buf.reshape(IMG_H, IMG_W, 3)))
        return pd.Series(out)

    return docs.select(
        "doc_id",
        F.lit("image/bmp").alias("modality"),
        to_bmp("text").alias("payload"),
    )


def _dhash_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-row decode with QUARANTINE, not job failure: at 100 TB a
    corrupt payload is routine (truncated upload, codec mismatch) and
    one bad row must never kill a 1000-executor stage. A row whose
    decode raises emits (dhash NULL, decode_error) instead; downstream
    matching filters on decode_ok and the quarantine rows stay
    reviewable in the signature artifact."""
    for pdf in it:
        hashes, ws, hs, errs = [], [], [], []
        for p in pdf["payload"]:
            try:
                px = decode_real(bytes(p))
                hashes.append(dhash64(px))
                hs.append(px.shape[0])
                ws.append(px.shape[1])
                errs.append(None)
            except Exception as ex:  # noqa: BLE001 — quarantine any decode fault
                hashes.append(None)
                hs.append(0)
                ws.append(0)
                errs.append(f"{type(ex).__name__}: {ex}"[:120])
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "dhash": pd.Series(hashes, dtype="Int64"),
                "img_w": pd.Series(ws, dtype="int32"),
                "img_h": pd.Series(hs, dtype="int32"),
                "decode_error": pd.Series(errs, dtype="object"),
            }
        )


IMAGE_DHASHES = artifacts.Artifact(
    "image_dhashes",
    "documents",
    dict(
        op="image_dhashes",
        h=IMG_H,
        w=IMG_W,
        v=2,  # v2: quarantine column (decode_error) in the signature schema
    ),
)


def image_dhashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dhash, w, h): the per-image signature table — REAL BMP
    decode + dHash per row inside Arrow batches, served as a
    fingerprint-keyed artifact (the signature-index precedent: hash a
    corpus version once, match against it forever)."""
    return artifacts.serve_frame(
        spark,
        IMAGE_DHASHES.path(sf_dir),
        lambda: with_image_payload(
            cached_parquet(spark, f"{sf_dir}/documents.parquet")
        ).mapInPandas(_dhash_batches, schema=DHASH_SCHEMA),
    )


def mm_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C50 — PERCEPTUAL IMAGE NEAR-DUP PAIRS: dHash signatures (real
    BMP decode) matched by BANDED hamming search — the 64-bit hash
    splits into DHASH_BANDS 16-bit bands; a pair whose distance is ≤
    DHASH_MAX_HAMMING < DHASH_BANDS·... shares at least one exact band
    whenever its differing bits cluster into ≤ 3 bands (and always
    when hamming < 4, pigeonhole) — the C3 simhash chunk trick on the
    image side. Candidates band-join with the bucket-size skew cap,
    verified by exact XOR popcount, all JVM-side after the Arrow
    signature extraction (which itself runs once per corpus version as
    an artifact). Rows-only for the gate (real decode is engine-side);
    pinned by known-answer dhash vectors + planted
    brightness-invariance tests (tests/test_multimodal.py)."""
    sig = image_dhashes(spark, sf_dir).filter(
        F.col("dhash").isNotNull()  # quarantined decodes never match
    )
    bands = sig.select(
        "doc_id",
        "dhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright("dhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_val"),
                    )
                    for i in range(DHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "dhash", "b.band_idx", "b.band_val")
    from pyspark.sql import Window

    wb = Window.partitionBy("band_idx", "band_val")
    bands = bands.withColumn("bucket_n", F.count("*").over(wb)).filter(
        F.col("bucket_n") <= DHASH_MAX_BUCKET
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.dhash").alias("ha"),
            F.col("b.dhash").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cand.select(
        "doc_a", "doc_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= DHASH_MAX_HAMMING)


QUERIES["mm_image_dhash"] = mm_image_dhash  # rows-only: real decode path


def _oracle_mm_image_dhash(sf_dir: str) -> str:
    """C50 hash-check (r11, the C31/C48 artifact-as-oracle-input
    precedent): the served dHash signature table is an INPUT TABLE —
    read_parquet of the `image_dhashes` artifact — and the ENTIRE
    matching stage replays in SQL: quarantine filter, 16-bit band
    decomposition, band-bucket skew cap, band equi-join with doc_a <
    doc_b, distinct candidates, exact XOR-popcount verify. Only the
    BMP decode + dHash extraction stays engine-side (pinned by
    known-answer vectors in tests/test_multimodal.py). The sign-safe
    part: both engines' `>>` on a signed 64-bit dhash is arithmetic,
    and the `& 65535` mask makes the band value identical either
    way."""
    path = IMAGE_DHASHES.path(sf_dir)
    return f"""
    WITH sig AS (
        SELECT doc_id, dhash FROM read_parquet('{path}/*.parquet')
        WHERE dhash IS NOT NULL
    ),
    bands AS (
        SELECT doc_id, dhash, b.band_idx,
               (dhash >> (16 * b.band_idx)) & 65535 AS band_val
        FROM sig, (SELECT UNNEST(range({DHASH_BANDS})) AS band_idx) b
    ),
    capped AS (
        SELECT doc_id, dhash, band_idx, band_val FROM (
            SELECT *, COUNT(*) OVER (PARTITION BY band_idx, band_val)
                   AS bucket_n
            FROM bands
        ) WHERE bucket_n <= {DHASH_MAX_BUCKET}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.dhash AS ha, b.dhash AS hb
        FROM capped a
        JOIN capped b ON a.band_idx = b.band_idx
                     AND a.band_val = b.band_val
                     AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= {DHASH_MAX_HAMMING}
    """


DYNAMIC_ORACLES = {
    "mm_image_dhash": _oracle_mm_image_dhash,
    "mm_feature_census": _oracle_mm_feature_census,
    "mm_audio_triage": _oracle_mm_audio_triage,
}
