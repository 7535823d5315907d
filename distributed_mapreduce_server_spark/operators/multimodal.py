"""Multimodal columns (SURVEY.md §2.6).

Treats media as opaque ``binary`` columns with typed metadata, exactly
how a 100 TB training-data lake stores them (parquet binary + struct
metadata; the bytes never pass through Python except inside the
Arrow-batched decode UDF).

The decode core is import-guarded: ``_decode_real`` uses PIL (image)
and soundfile (audio) when importable, raising MediaDecodeUnavailable
otherwise — this container ships neither, so the pipeline falls back
to ``_decode_fake``, a deterministic byte-statistics extractor.
Undecodable payloads raise MediaDecodeError and take the same
fallback (the corrupt-sample path). Everything around the core
(schema, mapInPandas batching, partition-parallel execution) is the
real production shape either way.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_server_spark.catalog import load_tables
from distributed_mapreduce_server_spark.functions import fround, fround_scalar

MEDIA_TYPES = ("image", "audio", "video")

DECODE_SCHEMA = (
    "doc_id long, media_type string, n_bytes int, "
    "width int, height int, checksum string, features array<double>"
)


def attach_media(docs: DataFrame) -> DataFrame:
    """Simulate a media lake: binary payload (the utf-8 bytes of the
    doc) + typed metadata column. In production this is the parquet
    layout: blob + struct<media_type, ...>."""
    media_type = F.element_at(
        F.array(*[F.lit(t) for t in MEDIA_TYPES]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            media_type.alias("media_type"),
            F.length("text").alias("n_chars"),
            F.lit("synthetic/v1").alias("codec"),
        ).alias("media_meta"),
    )


class MediaDecodeUnavailable(Exception):
    """Decode lib for this media type is not importable here."""


class MediaDecodeError(Exception):
    """Lib present but the payload doesn't decode (corrupt/mislabeled)."""


def _decode_real(payload: bytes, media_type: str) -> dict:
    """Real decode behind import guards — PIL for images, soundfile
    for audio (video decode needs ffmpeg bindings; none are commonly
    vendored, so it stays unavailable). Environments without the libs
    raise MediaDecodeUnavailable and the pipeline falls back to the
    deterministic stub; undecodable payloads raise MediaDecodeError
    (the corrupt-sample path a production run must also handle).
    Returns the same record shape as _decode_fake so the Spark-side
    plumbing (schema, batching, rollups) is identical either way."""
    import hashlib
    import io

    if media_type == "image":
        try:
            from PIL import Image
        except ImportError as e:
            raise MediaDecodeUnavailable("PIL not installed") from e
        try:
            img = Image.open(io.BytesIO(payload))
            img.load()
        except Exception as e:
            raise MediaDecodeError(str(e)) from e
        gray = img.convert("L")
        px = list(gray.getdata())
        mean = float(sum(px)) / max(len(px), 1)
        return {
            "n_bytes": len(payload),
            "width": int(img.width),
            "height": int(img.height),
            "checksum": hashlib.md5(payload).hexdigest()[:8],
            "features": [mean, float(min(px) if px else 0), float(max(px) if px else 0), float(len(px) % 997)],
        }
    if media_type == "audio":
        try:
            import soundfile as sf
        except ImportError as e:
            raise MediaDecodeUnavailable("soundfile not installed") from e
        try:
            data, rate = sf.read(io.BytesIO(payload))
        except Exception as e:
            raise MediaDecodeError(str(e)) from e
        # frame-based (see _audio_features_real): stereo must not
        # double the sample count; stats over the mono mixdown
        flat = data.mean(axis=1) if data.ndim > 1 else data
        n = int(flat.shape[0])
        mean = float(flat.mean()) if n else 0.0
        return {
            "n_bytes": len(payload),
            "width": int(rate),  # sample rate in the width slot
            "height": int(n),  # frame count in the height slot
            "checksum": hashlib.md5(payload).hexdigest()[:8],
            "features": [mean, float(flat.min()) if n else 0.0, float(flat.max()) if n else 0.0, float(n % 997)],
        }
    raise MediaDecodeUnavailable(f"no decoder for media_type={media_type}")


def _audio_features_real(payload: bytes) -> dict:
    """Audio FEATURE extraction from a genuinely decoded waveform (soundfile)
    — the real-path twin of mm_audio_features' deterministic fake,
    emitting the same AUDIO_SCHEMA record shape. MFCC stands in as
    banded sample means (a true MFCC needs librosa/torchaudio; the
    band structure keeps the column shape and determinism)."""
    import io

    try:
        import soundfile as sf
    except ImportError as e:
        raise MediaDecodeUnavailable("soundfile not installed") from e
    try:
        data, rate = sf.read(io.BytesIO(payload))
    except Exception as e:
        raise MediaDecodeError(str(e)) from e
    # soundfile returns (frames, channels) for multi-channel audio:
    # duration and sample counts are FRAME-based (a 1 s stereo file is
    # 1 s, not 2), and stats run over the mono mixdown, never the
    # channel-interleaved flat array
    if data.ndim > 1:
        mono = data.mean(axis=1).astype(float)
    else:
        mono = data.astype(float)
    flat = mono
    n = int(flat.shape[0])  # frames
    mean = float(flat.mean()) if n else 0.0
    rms = float(((flat - mean) ** 2).mean() ** 0.5) if n else 0.0
    zc = int((((flat[1:] - mean) * (flat[:-1] - mean)) < 0).sum()) if n > 1 else 0
    mfcc = [
        fround_scalar(float(flat[j::N_MFCC].mean() - mean), 4) if flat[j::N_MFCC].size else 0.0
        for j in range(N_MFCC)
    ]
    return {
        "sample_rate": int(rate),
        "n_samples": n,
        "duration_s": fround_scalar(n / rate, 6),
        "rms": fround_scalar(rms, 4),
        "zero_crossings": zc,
        "mfcc": mfcc,
    }


def _decode_fake(payload: bytes, media_type: str) -> dict:
    """Deterministic stand-in: byte statistics as 'features', dims
    derived from content so downstream operators have real columns."""
    n = len(payload)
    s = sum(payload[:256])
    width = 64 + (s % 448)
    height = 64 + ((s >> 3) % 448)
    mean = float(sum(payload)) / max(n, 1)
    first = float(payload[0]) if n else 0.0
    last = float(payload[-1]) if n else 0.0
    return {
        "n_bytes": n,
        "width": int(width),
        "height": int(height),
        "checksum": f"{s:08x}",
        "features": [mean, first, last, float(n % 997)],
    }


def decode_media(df: DataFrame) -> DataFrame:
    """Arrow-batched decode/feature-extract over media payloads.

    mapInPandas so each executor streams record batches — payloads
    never collect to the driver, and batch size is bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch.
    """

    def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload, meta in zip(pdf["doc_id"], pdf["payload"], pdf["media_meta"]):
                media_type = meta["media_type"]
                try:
                    rec = _decode_real(bytes(payload), media_type)
                except (MediaDecodeUnavailable, MediaDecodeError):
                    # no lib in this env, or an undecodable payload
                    # (these synthetic payloads are utf-8 text, so the
                    # fallback also keeps the oracle deterministic when
                    # the libs ARE present)
                    rec = _decode_fake(bytes(payload), media_type)
                rec["doc_id"] = doc_id
                rec["media_type"] = media_type
                out.append(rec)
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "media_type",
                    "n_bytes",
                    "width",
                    "height",
                    "checksum",
                    "features",
                ],
            )

    return df.mapInPandas(_decode_batches, schema=DECODE_SCHEMA)


def mm_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: attach media -> decode -> per-type rollup of the
    extracted features (rows-only check: the decode stub is
    deterministic but intentionally not SQL-expressible)."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    decoded = decode_media(attach_media(docs))
    return (
        decoded.groupBy("media_type")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("n_bytes").alias("total_bytes"),
            fround(F.avg("width"), 2).alias("avg_width"),
            fround(F.avg("height"), 2).alias("avg_height"),
            fround(F.avg(F.element_at("features", 1)), 4).alias("avg_byte_mean"),
        )
        .orderBy("media_type")
    )


RESIZE_SCHEMA = (
    "doc_id long, media_type string, width int, height int, "
    "target_w int, target_h int, scale double"
)


def resize_media(df: DataFrame, target_w: int = 224, target_h: int = 224) -> DataFrame:
    """Resize plumbing: decode dims -> compute aspect-preserving scale
    -> (stub) re-encode. The real PIL/ffmpeg call is the inner
    function; everything else (Arrow batching, schema, partition
    parallelism) is production-shaped."""

    def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload, meta in zip(pdf["doc_id"], pdf["payload"], pdf["media_meta"]):
                rec = _decode_fake(bytes(payload), meta["media_type"])
                scale = min(target_w / rec["width"], target_h / rec["height"])
                out.append(
                    {
                        "doc_id": doc_id,
                        "media_type": meta["media_type"],
                        "width": rec["width"],
                        "height": rec["height"],
                        "target_w": target_w,
                        "target_h": target_h,
                        "scale": fround_scalar(scale, 6),
                    }
                )
            yield pd.DataFrame(out)

    return df.mapInPandas(_resize_batches, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_idx int, frame_ts double, frame_checksum string"
N_FRAMES = 4


def sample_frames(df: DataFrame) -> DataFrame:
    """Frame sampling: one input video row -> N output frame rows — the
    1:N Arrow transform shape (mapInPandas yielding more rows than it
    consumes). Frame 'content' is a deterministic slice checksum."""

    def _sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload, meta in zip(pdf["doc_id"], pdf["payload"], pdf["media_meta"]):
                if meta["media_type"] != "video":
                    continue
                b = bytes(payload)
                dur = max(len(b) / 1000.0, 0.001)
                for i in range(N_FRAMES):
                    lo = (len(b) * i) // N_FRAMES
                    hi = (len(b) * (i + 1)) // N_FRAMES
                    out.append(
                        {
                            "doc_id": doc_id,
                            "frame_idx": i,
                            "frame_ts": fround_scalar(dur * i / N_FRAMES, 3),
                            "frame_checksum": f"{sum(b[lo:hi]) & 0xFFFFFFFF:08x}",
                        }
                    )
            yield pd.DataFrame(out, columns=["doc_id", "frame_idx", "frame_ts", "frame_checksum"])

    return df.mapInPandas(_sample_batches, schema=FRAME_SCHEMA)


def mm_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: resize plan rollup (rows-only check)."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    resized = resize_media(attach_media(docs))
    return (
        resized.groupBy("media_type")
        .agg(
            F.count("*").alias("n_items"),
            fround(F.avg("scale"), 4).alias("avg_scale"),
            F.min("width").alias("min_width"),
            F.max("height").alias("max_height"),
        )
        .orderBy("media_type")
    )


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: per-video frame sampling (rows-only check; 1:N
    mapInPandas — each video row yields N_FRAMES frame rows)."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    frames = sample_frames(attach_media(docs))
    return frames.orderBy("doc_id", "frame_idx")


AUDIO_SCHEMA = (
    "doc_id long, sample_rate int, n_samples long, duration_s double, "
    "rms double, zero_crossings int, mfcc array<double>"
)
N_MFCC = 8


def extract_audio_features(df: DataFrame) -> DataFrame:
    """Audio feature-extraction plumbing: decode (stub) -> sample-rate /
    duration / RMS / zero-crossing-rate / MFCC-shaped vector. The real
    torchaudio/librosa call replaces ``_audio_fake``; the Arrow
    batching, schema, and audio-only filter pushed below the Python
    boundary are the production shape."""

    def _audio_fake(b: bytes) -> dict:
        # Deterministic stand-in treating bytes as a PCM-ish signal.
        sr = 16000
        n = len(b)
        mean = sum(b) / max(n, 1)
        rms = (sum((x - mean) ** 2 for x in b) / max(n, 1)) ** 0.5
        zc = sum(
            1 for i in range(1, n) if (b[i] - mean) * (b[i - 1] - mean) < 0
        )
        mfcc = [
            fround_scalar(sum(b[j::N_MFCC]) / max(len(b[j::N_MFCC]), 1) - mean, 4)
            for j in range(N_MFCC)
        ]
        return {
            "sample_rate": sr,
            "n_samples": n,
            "duration_s": fround_scalar(n / sr, 6),
            "rms": fround_scalar(rms, 4),
            "zero_crossings": zc,
            "mfcc": mfcc,
        }

    def _audio_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload, meta in zip(pdf["doc_id"], pdf["payload"], pdf["media_meta"]):
                if meta["media_type"] != "audio":
                    continue
                try:
                    rec = _audio_features_real(bytes(payload))
                except (MediaDecodeUnavailable, MediaDecodeError):
                    rec = _audio_fake(bytes(payload))
                rec["doc_id"] = doc_id
                out.append(rec)
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "sample_rate",
                    "n_samples",
                    "duration_s",
                    "rms",
                    "zero_crossings",
                    "mfcc",
                ],
            )

    # filter on the metadata column BEFORE the Python boundary so only
    # audio payload bytes cross into Arrow.
    audio = df.filter(F.col("media_meta.media_type") == "audio")
    return audio.mapInPandas(_audio_batches, schema=AUDIO_SCHEMA)


def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: audio feature extraction rollup (rows-only
    check; decode core stubbed, Spark plumbing real)."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    feats = extract_audio_features(attach_media(docs))
    return (
        feats.groupBy("sample_rate")
        .agg(
            F.count("*").alias("n_clips"),
            fround(F.sum("duration_s"), 3).alias("total_duration_s"),
            fround(F.avg("rms"), 4).alias("avg_rms"),
            fround(F.avg("zero_crossings"), 2).alias("avg_zero_crossings"),
            fround(F.avg(F.element_at("mfcc", 1)), 4).alias("avg_mfcc0"),
        )
        .orderBy("sample_rate")
    )


def mm_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed dedup of binary media payloads: md5 digest of
    the raw bytes, one canonical item (min doc_id) per digest within
    each media type — the blob-store dedup every multimodal lake runs
    before feature extraction (dedup by digest is exact, format-aware
    near-dup comes later in the pipeline). Pure column expressions on
    the binary column (md5 over bytes stays JVM-side); one digest
    shuffle. Oracle: the payload is the utf-8 of text, so DuckDB
    reproduces the digest from the string."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    media = attach_media(docs)
    return (
        media.select(
            F.col("media_meta.media_type").alias("media_type"),
            F.md5("payload").alias("digest"),
            "doc_id",
            F.length("payload").alias("n_bytes"),
        )
        .groupBy("media_type", "digest")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keep_doc_id"),
            F.min("n_bytes").alias("n_bytes"),
        )
        .orderBy("media_type", "keep_doc_id")
    )


def mm_modality_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modality-mix table (the multimodal analog of text_source_mix):
    item count, byte volume, and byte share per media type — what a
    training-data curator reads before setting modality sampling
    ratios. One metadata-only aggregation; the payload column is
    projected to its length, so the scan never moves blob bytes
    further than the local length computation."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    media = attach_media(docs)
    per_type = media.groupBy(
        F.col("media_meta.media_type").alias("media_type")
    ).agg(
        F.count("*").alias("n_items"),
        F.sum(F.length("payload")).alias("total_bytes"),
    )
    totals = per_type.agg(F.sum("total_bytes").alias("corpus_bytes"))
    return (
        per_type.join(F.broadcast(totals))
        .select(
            "media_type",
            "n_items",
            "total_bytes",
            fround(F.col("total_bytes") / F.col("corpus_bytes"), 6).alias(
                "byte_share"
            ),
        )
        .orderBy("media_type")
    )


# WebDataset-style shard byte budget: small against real 100 MB-1 GB
# tar shards, sized so the synthetic corpus yields multi-item shards
# with realistic remainder behavior.
SHARD_BYTE_BUDGET = 2048


def mm_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style training-shard manifest: assign media items
    (in doc_id order) to byte-budgeted shards, one shard sequence per
    media type — the layout step that turns a media lake into the
    sequentially-readable tar/parquet shards a dataloader streams.
    Greedy next-fit, the same recurrence as text_sequence_packing but
    over payload BYTES per modality (shards are modality-pure so a
    loader requests one decode pipeline per shard).

    Scale shape: only the narrow (media_type, doc_id, n_bytes) frame
    crosses the Arrow boundary — payload bytes stay in the JVM scan;
    packing parallelizes per media type here and per (type, date/
    path-prefix) shard key in production, so no global order is
    needed. An oversized item gets its own shard (next-fit never
    splits payloads). Oracle: DuckDB recursive CTE on the identical
    recurrence.
    """
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    media = attach_media(docs)
    narrow = media.select(
        F.col("media_meta.media_type").alias("media_type"),
        "doc_id",
        F.length("payload").cast("long").alias("n_bytes"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        shard_ids, used_after = [], []
        shard_id, used = 0, 0
        for n in pdf["n_bytes"]:
            if used > 0 and used + n > SHARD_BYTE_BUDGET:
                shard_id += 1
                used = 0
            used += int(n)
            shard_ids.append(shard_id)
            used_after.append(used)
        pdf["shard_id"] = shard_ids
        pdf["shard_used"] = used_after
        return pdf

    return (
        narrow.groupBy("media_type")
        .applyInPandas(
            pack,
            "media_type string, doc_id long, n_bytes long, "
            "shard_id long, shard_used long",
        )
        .orderBy("media_type", "doc_id")
    )


MM_MIN_DIM = 128
MM_MIN_BYTES = 200
MM_MAX_BYTES = 2000
MM_MIN_ASPECT = 0.5
MM_MAX_ASPECT = 2.0


def mm_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media quality gate — the multimodal twin of text_gopher_filters:
    per-item rule verdicts (minimum dimensions, payload-size band,
    aspect-ratio band) plus the conjunctive keep flag, so a curation
    run can audit WHY an item dropped. Rules are column expressions
    over the decoded metadata; blob bytes never shuffle (the
    mm_modality_mix discipline)."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    decoded = decode_media(attach_media(docs))
    aspect = F.col("width") / F.col("height")
    return (
        decoded.select(
            "doc_id",
            "media_type",
            ((F.col("width") >= MM_MIN_DIM) & (F.col("height") >= MM_MIN_DIM)).alias(
                "r_min_dims"
            ),
            ((F.col("n_bytes") >= MM_MIN_BYTES) & (F.col("n_bytes") <= MM_MAX_BYTES)).alias(
                "r_byte_band"
            ),
            ((aspect >= MM_MIN_ASPECT) & (aspect <= MM_MAX_ASPECT)).alias("r_aspect"),
        )
        .select(
            "doc_id",
            "media_type",
            "r_min_dims",
            "r_byte_band",
            "r_aspect",
            (F.col("r_min_dims") & F.col("r_byte_band") & F.col("r_aspect")).alias("keep"),
        )
        .orderBy("doc_id")
    )


PHASH_CHUNKS = 24
PHASH_BAND_BITS = 6
PHASH_BANDS = 4  # 4 bands x 6 bits; complete for Hamming <= PHASH_BANDS - 1
PHASH_MAX_HAMMING = 3


def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-aware near-dup over media payloads — the stage
    mm_payload_dedup's docstring defers ("dedup by digest is exact,
    format-aware near-dup comes later"). A 24-bit blockwise perceptual
    signature: the payload is cut into PHASH_CHUNKS equal byte blocks,
    bit k = (block-k mean intensity > global mean) — the aHash
    construction applied to payload bytes instead of decoded pixels
    (the corpus payloads are ASCII text, which also makes the
    signature SQL-expressible for the oracle, like the rest of §2.6).

    Candidate generation is banded (PHASH_BANDS × PHASH_BAND_BITS
    bits), verify = exact Hamming within buckets. Completeness is
    EXACT, not probabilistic: a pair at Hamming ≤ 3 differs in at
    most 3 of 4 bands, so it collides on at least one full band
    (pigeonhole) — the oracle therefore enumerates ALL within-type
    pairs with the same ≤ 3 cut, and the parity check doubles as the
    executed completeness proof.

    Scale shape: signature = one explode + two keyed partial aggs
    (bytes → block sums → signature); candidates only within
    (media_type, band, value) buckets, never the all-pairs product
    the oracle can afford at test SF. Bucket load is n/2^6 per band —
    at larger corpora widen the band (band bits ~ log₂ n), the same
    dial as dedup_simhash."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    media = attach_media(docs).filter(F.length("payload") >= PHASH_CHUNKS)
    txt = media.select(
        "doc_id",
        F.col("media_meta.media_type").alias("media_type"),
        F.decode("payload", "utf-8").alias("txt"),
    )
    pts = txt.select(
        "doc_id",
        "media_type",
        F.length("txt").alias("L"),
        F.posexplode(
            F.expr("transform(sequence(1, length(txt)), i -> ascii(substr(txt, i, 1)))")
        ).alias("pos", "code"),
    )
    # 1-based position p = pos + 1; block k = (CHUNKS*p - 1) div L,
    # the closed form of the floor-boundary equal-split (identical in
    # the oracle).
    chunked = (
        pts.withColumn(
            "k",
            F.expr(f"CAST(((pos + 1) * {PHASH_CHUNKS} - 1) div L AS INT)"),
        )
        .groupBy("doc_id", "media_type", "L", "k")
        .agg(F.sum("code").alias("csum"), F.count("*").alias("cn"))
    )
    # per-doc byte total via a doc-keyed window over the 24-row/doc
    # chunk frame — one shuffle, no second aggregation pass over the
    # same subtree (ReuseExchange would not dedupe it; the
    # q_graph_triangles measurement). Doc-keyed partitions are
    # fact-safe: 24 rows each, cardinality scales with the corpus.
    from pyspark.sql.window import Window as _W

    chunked = chunked.withColumn(
        "stot", F.sum("csum").over(_W.partitionBy("doc_id"))
    )
    sig = chunked.groupBy("doc_id", "media_type").agg(
        F.sum(F.expr("shiftleft(CAST(csum / cn > stot / L AS INT), k)"))
        .cast("bigint")
        .alias("sig")
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.expr(
                    f"(sig >> {b * PHASH_BAND_BITS}) & {(1 << PHASH_BAND_BITS) - 1}"
                ).alias("band_val"),
            )
            for b in range(PHASH_BANDS)
        ]
    )
    bands = sig.select(
        "doc_id", "media_type", "sig", F.explode(band_structs).alias("band")
    ).select("doc_id", "media_type", "sig", "band.band_idx", "band.band_val")
    buckets = bands.groupBy("media_type", "band_idx", "band_val").agg(
        F.collect_list(F.struct("doc_id", "sig")).alias("ds")
    )
    cand = (
        buckets.select("media_type", F.explode("ds").alias("a"), "ds")
        .select("media_type", "a", F.explode("ds").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            "media_type",
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("CAST(bit_count(sig_a ^ sig_b) AS INT)"))
        .filter(F.col("hamming") <= PHASH_MAX_HAMMING)
        .select("media_type", "doc_a", "doc_b", "hamming")
        .orderBy("media_type", "doc_a", "doc_b")
    )


SCENE_JUMP_T = 3.0
SCENE_SCHEMA = (
    "doc_id long, n_frames int, n_scenes int, boundaries string, "
    "max_jump double"
)


def mm_scene_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection (round 8): segment each video into
    scenes by frame-difference — a scene cut wherever consecutive
    sampled frames' byte-mean signatures jump more than SCENE_JUMP_T
    (the classic histogram-difference method; a real decoder swaps
    the stub signature for a color histogram, the Spark shape is
    identical). The segmentation a video-training pipeline runs
    before per-scene captioning/sampling.

    Scale shape: ONE Arrow pass over video payloads — each video row
    is self-contained, so segmentation needs no shuffle at all; the
    output is video-count-sized. Boundaries ship as a comma-joined
    string (ordered-list columns break the hash comparators).
    Determinism: frame means are integer-sum / integer-length
    divisions rounded to 1e-4, so both engines compute bit-identical
    jumps and the > threshold can never flip."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]

    def _scene_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload, meta in zip(
                pdf["doc_id"], pdf["payload"], pdf["media_meta"]
            ):
                if meta["media_type"] != "video":
                    continue
                b = bytes(payload)
                means = []
                for i in range(N_FRAMES):
                    lo = (len(b) * i) // N_FRAMES
                    hi = (len(b) * (i + 1)) // N_FRAMES
                    seg = b[lo:hi]
                    means.append(fround_scalar(sum(seg) / max(len(seg), 1), 4))
                jumps = [
                    fround_scalar(abs(means[i] - means[i - 1]), 4)
                    for i in range(1, N_FRAMES)
                ]
                cuts = [i for i in range(1, N_FRAMES) if jumps[i - 1] > SCENE_JUMP_T]
                out.append(
                    {
                        "doc_id": doc_id,
                        "n_frames": N_FRAMES,
                        "n_scenes": len(cuts) + 1,
                        "boundaries": ",".join(str(i) for i in cuts),
                        "max_jump": max(jumps),
                    }
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "n_frames", "n_scenes", "boundaries", "max_jump"],
            )

    return (
        attach_media(docs)
        .mapInPandas(_scene_batches, schema=SCENE_SCHEMA)
        .orderBy("doc_id")
    )


ENTROPY_LOW_T = 4.0


def mm_payload_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-entropy quality gate (round 8): Shannon entropy of each
    payload's byte histogram, rolled up per media type (mean / min /
    max entropy + the count of low-entropy payloads) — the classic
    corruption/padding detector (all-zero buffers, truncated encodes
    and repeated-block padding sit far below real media's entropy;
    encrypted/noise blobs sit near 8 bits). Runs BEFORE any decode —
    it's the gate that decides what is worth decoding.

    Scale shape: pure JVM-side column math — one explode of payload
    bytes into a partial-agg (doc, byte) count, then the entropy fold
    directly in a second aggregation: tot rides along as a grouping
    column (it is just size(payload), known BEFORE the explode), so
    the former separate tot aggregation and hist⋈tot shuffle join are
    gone (r13, guide §2.4 — one fewer Exchange, the per-term math
    −Σ (n/tot)·log2(n/tot) rounded 4 dp from exact integer counts is
    unchanged). No Python boundary at all. (An explode-free per-doc
    in-array histogram — array_sort + run-length + fold — was
    measured 32% SLOWER at sf0.1; the exploded partial agg emits
    ≤256 rows/doc into the shuffle, so it also scales fine.)"""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    media = attach_media(docs).select(
        "doc_id",
        F.col("media_meta.media_type").alias("media_type"),
        "payload",
    )
    # byte histogram: explode payload bytes (payload is the utf-8 text
    # stub — ascii corpus, byte == char) into (doc, byte) counts; tot
    # (= the array size) is attached per doc before the explode
    bytes_rows = media.select(
        "doc_id",
        "media_type",
        F.transform(
            F.split(F.col("payload").cast("string"), ""), lambda c: F.ascii(c)
        ).alias("bts"),
    ).select(
        "doc_id",
        "media_type",
        F.size("bts").cast("double").alias("tot"),
        F.explode("bts").alias("b"),
    )
    hist = bytes_rows.groupBy("doc_id", "media_type", "tot", "b").agg(
        F.count("*").alias("n")
    )
    ent = hist.groupBy("doc_id", "media_type").agg(
        fround(
            -F.sum(
                (F.col("n") / F.col("tot")) * F.log2(F.col("n") / F.col("tot"))
            ),
            4,
        ).alias("entropy")
    )
    return (
        ent.groupBy("media_type")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            fround(F.avg("entropy"), 4).alias("avg_entropy"),
            fround(F.min("entropy"), 4).alias("min_entropy"),
            fround(F.max("entropy"), 4).alias("max_entropy"),
            F.sum((F.col("entropy") < ENTROPY_LOW_T).cast("long"))
            .cast("bigint")
            .alias("n_low_entropy"),
        )
        .orderBy("media_type")
    )
