"""End-to-end multimodal curation job: media table → metadata stats →
feature extraction (REAL dependency-free decode: netpbm/PNG/BMP/baseline
JPEG, WAV) → image near-duplicate dedup → kept-flag table + report.

The composed pipeline an image-corpus run executes before training,
wired from the engine's building blocks:

1. **stats**: :func:`jsl_engine.multimodal.media_stats` — metadata-only
   (blob column pruned at the scan);
2. **features**: :func:`jsl_engine.multimodal.extract_features`
   materialized to parquet ONCE — at blob scale the decode pass
   dominates, and both dedup branches (candidate pairs + keep flags)
   must read features, never payloads, twice;
3. **dedup**: :func:`jsl_engine.multimodal.image_near_duplicates` over
   the materialized features — banded-SRP candidates, exact-cosine
   verify, SemDeDup keep rule. Re-encoded twins (same pixels in a
   different container) and downscaled copies pair; byte-level dedup
   sees neither.

Usage::

    python jobs/media_job.py [--rows 3000 | --input media.parquet]
        [--plant-dups 40] [--method feature|phash] [--threshold 0.97]
        [--hamming 10] [--dim 16] [--keep pairwise|greedy] [--all-kinds]
        [--output DIR] [--cpus 8]

``--plant-dups K`` (synthetic input only) re-encodes K of the
generated netpbm images as PNG/JPEG/BMP/half-size twins under fresh ids
— a self-checking fixture: the report's ``planted_found`` counts how
many planted twins were dropped (their original kept), which must equal
``planted`` on a healthy run.

``--all-kinds`` adds the other two modality arms over the same
materialized signatures: audio dedup (RMS-envelope features at
``--audio-threshold`` — envelope vectors are all-positive, so cosines
crowd and need a tighter cut) and video dedup (temporal-order-preserving
frame-feature signatures; real for the animated-GIF half of the
synthetic corpus, MP4 rows stay stub-kept).

Prints one JSON line: n_media, n_images, n_decoded, planted,
planted_found, pairs, images_dropped, audio, video, seconds,
images_per_sec.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from jsl_engine.partitioning import get_spark
from jsl_engine.multimodal import (
    MEDIA_SCHEMA,
    extract_features,
    image_near_duplicates,
    media_probe,
    media_stats,
    synth_media,
)


def plant_duplicates(spark, media, k: int, *, seed: int = 7):
    """Append k content-duplicate rows of the first k image rows under
    ids offset by 10_000_000, rotating re-encode modes: lossless PNG /
    BMP, near-lossless baseline JPEG, and lossy quality-85 JPEG. All
    four must pair with their source on ANY content, noise included —
    mean-pooled features move negligibly under re-encoding. (Resized
    twins pair too, but only for natural/smooth content — downscaling
    NOISE destroys the information any pooled feature summarizes — so
    the resize case is pinned in pytest on smooth fixtures, not planted
    over the random synthetic corpus.) Driver-side — k is a fixture
    size, not corpus scale."""
    from pyspark.sql import Row

    from jsl_engine.jpeg import encode_jpeg
    from jsl_engine.multimodal import decode_image, encode_bmp, encode_png

    src = (
        media.where(F.col("kind") == "image")
        .orderBy("media_id")
        .limit(k)
        .collect()
    )
    rows = []
    for j, r in enumerate(src):
        arr = decode_image(bytes(r.payload))
        if arr is None:
            continue
        mode = j % 4
        if mode == 0:
            blob, mime = encode_png(arr), "image/png"
        elif mode == 1:
            blob, mime = encode_jpeg(arr), "image/jpeg"
        elif mode == 2:
            blob, mime = encode_bmp(arr), "image/bmp"
        else:
            blob, mime = encode_jpeg(arr, quality=85), "image/jpeg"
        rows.append(Row(
            media_id=10_000_000 + r.media_id, kind="image", mime=mime,
            width=r.width, height=r.height, duration_ms=None,
            n_bytes=len(blob), payload=bytearray(blob),
        ))
    planted = spark.createDataFrame(rows, MEDIA_SCHEMA)
    return media.unionByName(planted), len(rows)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=3000)
    ap.add_argument("--input", default=None,
                    help="parquet media table (MEDIA_SCHEMA); default synth")
    ap.add_argument("--plant-dups", type=int, default=0)
    ap.add_argument("--threshold", type=float, default=0.97)
    ap.add_argument("--dim", type=int, default=16)
    ap.add_argument("--method", choices=("feature", "phash"),
                    default="feature",
                    help="image signature: pooled-feature cosine (precise)"
                         " or 64-bit DCT perceptual hash (robust to"
                         " brightness/contrast)")
    ap.add_argument("--hamming", type=int, default=10,
                    help="phash arm: max Hamming distance of a dup pair")
    ap.add_argument("--keep", choices=("pairwise", "greedy"),
                    default="pairwise")
    ap.add_argument("--all-kinds", action="store_true",
                    help="also dedup audio (RMS-envelope features) and"
                         " video (frame-feature signatures) rows")
    ap.add_argument("--audio-threshold", type=float, default=0.995,
                    help="audio cosine threshold — envelope features are"
                         " all-positive, so cosines crowd the positive"
                         " orthant and need a tighter cut than images")
    ap.add_argument("--output", default=None)
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--keep-output", action="store_true")
    args = ap.parse_args()

    out_dir = Path(args.output) if args.output else Path(
        tempfile.mkdtemp(prefix="media_job_")
    )
    spark = get_spark(
        f"local[{args.cpus}]", shuffle_partitions=max(8, args.cpus)
    )
    t0 = time.time()

    if args.input:
        media = spark.read.parquet(args.input)
        planted = 0
    else:
        media = synth_media(spark, args.rows, seed=args.seed,
                            partitions=args.cpus * 2)
        if args.plant_dups:
            media, planted = plant_duplicates(spark, media, args.plant_dups)
        else:
            planted = 0

    stats = {r.kind: r.n for r in media_stats(media).collect()}

    # container-metadata verification: one header-only payload pass —
    # claimed metadata columns vs what each container itself says
    probe_rows = (
        media_probe(media)
        .groupBy("container")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("dims_drift").cast("int")).alias("dd"),
             F.sum(F.col("duration_drift").cast("int")).alias("td"))
        .collect()
    )
    containers = {r.container: int(r.n) for r in probe_rows}
    metadata_drift = int(sum(r.dd + r.td for r in probe_rows))

    # ONE decode pass, materialized: both dedup branches (pairs + keep
    # flags) read the narrow signature table, never payload bytes again
    if args.method == "phash":
        sig_path = str(out_dir / "phashes")
        from jsl_engine.multimodal import image_phashes

        image_phashes(media).write.mode("overwrite").parquet(sig_path)
        signatures = spark.read.parquet(sig_path)
        n_decoded = signatures.where("decoded").count()
        dedup_kw = dict(method="phash", phashes=signatures,
                        max_hamming=args.hamming)
    else:
        sig_path = str(out_dir / "features")
        extract_features(media, dim=args.dim).write.mode(
            "overwrite"
        ).parquet(sig_path)
        signatures = spark.read.parquet(sig_path)
        n_decoded = signatures.where("decoded AND kind = 'image'").count()
        dedup_kw = dict(features=signatures, threshold=args.threshold,
                        dim=args.dim)

    pairs = image_near_duplicates(
        media, return_pairs=True, **dedup_kw
    ).localCheckpoint()
    flags = image_near_duplicates(media, keep=args.keep, **dedup_kw)
    flags.write.mode("overwrite").parquet(str(out_dir / "image_flags"))
    flags = spark.read.parquet(str(out_dir / "image_flags"))

    n_pairs = pairs.count()
    dropped = flags.where(~F.col("kept")).count()
    planted_found = flags.where(
        ~F.col("kept") & (F.col("media_id") >= 10_000_000)
    ).count() if planted else 0

    audio = video = None
    if args.all_kinds:
        # the other two modality arms, same materialize-then-dedup shape:
        # audio re-reads the features parquet (it already carries every
        # kind); video needs its own frame-sampled signature pass
        from jsl_engine.multimodal import (
            audio_near_duplicates,
            video_features,
            video_near_duplicates,
        )

        if args.method == "phash":
            extract_features(media, dim=args.dim).write.mode(
                "overwrite"
            ).parquet(str(out_dir / "features"))
        feats = spark.read.parquet(str(out_dir / "features"))
        aflags = audio_near_duplicates(
            media, features=feats, threshold=args.audio_threshold,
            dim=args.dim, keep=args.keep,
        )
        aflags.write.mode("overwrite").parquet(str(out_dir / "audio_flags"))
        aflags = spark.read.parquet(str(out_dir / "audio_flags"))
        audio = {
            "n": int(stats.get("audio", 0)),
            "dropped": int(aflags.where(~F.col("kept")).count()),
        }
        video_features(media).write.mode("overwrite").parquet(
            str(out_dir / "video_features")
        )
        vfeats = spark.read.parquet(str(out_dir / "video_features"))
        vflags = video_near_duplicates(
            media, features=vfeats, threshold=args.threshold,
            keep=args.keep,
        )
        vflags.write.mode("overwrite").parquet(str(out_dir / "video_flags"))
        vflags = spark.read.parquet(str(out_dir / "video_flags"))
        video = {
            "n": int(stats.get("video", 0)),
            "decoded": int(vfeats.where("decoded").count()),
            "dropped": int(vflags.where(~F.col("kept")).count()),
        }

    secs = round(time.time() - t0, 3)
    n_images = int(stats.get("image", 0))  # stats ran post-plant
    print(json.dumps({
        "method": args.method,
        "n_media": sum(int(v) for v in stats.values()),
        "n_images": n_images,
        "n_decoded": int(n_decoded),
        "planted": planted,
        "planted_found": int(planted_found),
        "pairs": int(n_pairs),
        "images_dropped": int(dropped),
        "containers": containers,
        "metadata_drift": metadata_drift,
        "audio": audio,
        "video": video,
        "seconds": secs,
        "images_per_sec": round(n_images / secs, 1) if secs else None,
    }))
    if not args.keep_output and not args.output:
        shutil.rmtree(out_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
