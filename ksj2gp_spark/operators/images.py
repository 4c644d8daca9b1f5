"""Image-lane operators over the input_hint table
(image_id, bytes, w, h, fmt, caption, phash).

All decode/hash work runs in ``mapInPandas`` over Arrow batches (numpy
kernels from formats.imagecodec); rows never round-trip through per-row
Python. Decode of real JPEG is stubbed (no libjpeg here) — the Spark
plumbing (schema, batching, UDF signatures) is exactly what a
libjpeg-backed deployment would use.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..formats import imagecodec


def decode_verify(df: DataFrame) -> DataFrame:
    """Decode every image and verify stored metadata: returns
    (image_id, fmt, w_ok, h_ok, phash_recomputed, phash_match,
    mean_pixel, decode_error). Errors are captured per row, not thrown —
    the quarantine lane of the pipeline."""

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            out = {
                "image_id": pdf["image_id"],
                "fmt": pdf["fmt"],
                "w_ok": np.zeros(n, dtype=bool),
                "h_ok": np.zeros(n, dtype=bool),
                "phash_recomputed": np.zeros(n, dtype=np.int64),
                "phash_match": np.zeros(n, dtype=bool),
                "mean_pixel": np.full(n, np.nan),
                "decode_error": np.array([None] * n, dtype=object),
            }
            for k, (buf, fmt, w, h, ph) in enumerate(
                zip(pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"], pdf["phash"])
            ):
                try:
                    arr = imagecodec.decode_image(buf, fmt)
                except Exception as e:  # quarantine, don't fail the job
                    out["decode_error"][k] = f"{type(e).__name__}: {e}"
                    continue
                hh, ww = arr.shape[:2]
                out["w_ok"][k] = ww == w
                out["h_ok"][k] = hh == h
                rec = imagecodec.phash64(arr)
                out["phash_recomputed"][k] = rec
                out["phash_match"][k] = rec == ph
                out["mean_pixel"][k] = float(arr.mean())
            yield pd.DataFrame(out)

    return df.mapInPandas(
        run,
        schema=(
            "image_id string, fmt string, w_ok boolean, h_ok boolean, "
            "phash_recomputed long, phash_match boolean, "
            "mean_pixel double, decode_error string"
        ),
    )


def psnr_vs_reference(df: DataFrame, reference_fn) -> DataFrame:
    """Per-row invariant check (input_hint): decoded pixels vs a
    reference image generator ``reference_fn(image_id, h, w) -> array``.
    Emits (image_id, psnr, lossless, passes_40db)."""

    def run(batches):
        for pdf in batches:
            ids, psnrs, lossless = [], [], []
            for buf, fmt, w, h, iid in zip(
                pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"], pdf["image_id"]
            ):
                arr = imagecodec.decode_image(buf, fmt)
                ref = reference_fn(iid, int(h), int(w))
                p = imagecodec.psnr(ref, arr)
                ids.append(iid)
                psnrs.append(p if np.isfinite(p) else 1e9)
                lossless.append(np.isinf(p))
            yield pd.DataFrame(
                {
                    "image_id": ids,
                    "psnr": psnrs,
                    "lossless": lossless,
                    "passes_40db": [p >= 40.0 for p in psnrs],
                }
            )

    return df.mapInPandas(
        run,
        schema="image_id string, psnr double, lossless boolean, passes_40db boolean",
    )


def phash_exact_dups(df: DataFrame) -> DataFrame:
    """Exact perceptual-hash dedup: canonical row per phash + dup count.
    Pure hash aggregation (JVM); emits (phash, canonical_image_id,
    dup_count)."""
    return (
        df.groupBy("phash")
        .agg(
            F.min("image_id").alias("canonical_image_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .filter(F.col("dup_count") > 1)
    )


def phash_banded(df: DataFrame, band_bits: int = 16) -> DataFrame:
    """(image_id, phash, band, band_val) — the banded phash LSH index.
    One row per (image, band); JVM bit arithmetic only. This is the
    frame to persist (e.g. in the Iceberg table, appended on every
    ingest) as the corpus-side index for
    :func:`phash_near_dups_incremental`."""
    n_bands = 64 // band_bits
    return df.select(
        "image_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.shiftrightunsigned(F.col("phash"), b * band_bits)
                            % F.lit(1 << band_bits)
                        ).alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select("image_id", "phash", "bv.band", "bv.band_val")


def phash_near_dups(
    df: DataFrame, band_bits: int = 16, max_hamming: int = 4
) -> DataFrame:
    """Near-dup candidates by banded phash (LSH on Hamming space): the
    64-bit hash is split into 64/band_bits bands; rows sharing any band
    value are candidates, verified by exact Hamming distance ≤
    ``max_hamming``.

    Banding is JVM bit arithmetic; verification joins only within
    buckets (the standard LSH candidate-pruning shape)."""
    bands = phash_banded(df, band_bits)
    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.image_id") < F.col("b.image_id")),
        )
        .select(
            F.col("a.image_id").alias("image_a"),
            F.col("b.image_id").alias("image_b"),
            # hamming is identical for every band-duplicate of a pair:
            # threshold BEFORE dropDuplicates so the dedup shuffle
            # carries only surviving rows
            F.bit_count(
                F.col("a.phash").bitwiseXOR(F.col("b.phash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["image_a", "image_b"])
    )
    return pairs


def phash_near_dups_incremental(
    new_df: DataFrame,
    corpus: DataFrame,
    band_bits: int = 16,
    max_hamming: int = 4,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Visual near-dups of a NEW image batch against an EXISTING
    corpus — the image twin of
    :func:`~.dedup.minhash_lsh_pairs_incremental` (daily-ingest shape):
    bands are computed only for the new rows; the corpus is probed,
    never re-hashed and never shuffled.

    ``corpus`` is either a raw (image_id, phash) frame or — the
    production path — a PREBUILT banded index (the output of
    :func:`phash_banded`, persisted and appended on every ingest):
    detected by its (band, band_val) columns.

    Emits (new_id, corpus_id, hamming) for cross-set pairs with
    Hamming distance ≤ ``max_hamming``. Intra-batch duplicates are a
    separate (small) concern — compose with :func:`phash_near_dups`
    over the new batch alone.

    Scale shape: the new batch's distinct (band, band_val) keys are
    BROADCAST as a semi-join probe, so only corpus index rows in
    probed buckets leave the scan — the 10^12-row index side sees a
    pruned columnar read plus broadcast hash joins, zero Exchange.
    The ``max_bucket`` cap is evaluated on the probed subset only
    (O(new batch)); audit via
    :func:`~.dedup.dropped_bucket_stats` on that subset.
    """
    from .dedup import _cap_buckets

    new_banded = phash_banded(new_df, band_bits)
    if "band" in corpus.columns and "band_val" in corpus.columns:
        corpus_banded = corpus
    else:
        corpus_banded = phash_banded(corpus, band_bits)
    keys = ["band", "band_val"]
    probe = new_banded.select(*keys).distinct()
    hit = corpus_banded.join(F.broadcast(probe), keys, "left_semi")
    hit = _cap_buckets(hit, keys, max_bucket)
    return (
        hit.alias("c")
        .join(
            F.broadcast(new_banded.alias("n")),
            (F.col("c.band") == F.col("n.band"))
            & (F.col("c.band_val") == F.col("n.band_val")),
        )
        .select(
            F.col("n.image_id").alias("new_id"),
            F.col("c.image_id").alias("corpus_id"),
            # hamming is identical for every band-duplicate of a pair:
            # threshold BEFORE the dedup shuffle
            F.bit_count(
                F.col("n.phash").bitwiseXOR(F.col("c.phash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["new_id", "corpus_id"])
    )


def resize_images(df: DataFrame, out_h: int, out_w: int) -> DataFrame:
    """Decode → block-mean resize → re-encode PNG. Demonstrates the
    transform shape for multimodal preprocessing at scale."""

    def run(batches):
        for pdf in batches:
            blobs = []
            for buf, fmt in zip(pdf["bytes"], pdf["fmt"]):
                arr = imagecodec.decode_image(buf, fmt)
                small = imagecodec.resize_block_mean(arr, out_h, out_w)
                blobs.append(
                    imagecodec.encode_image(
                        np.clip(small, 0, 255).astype(np.uint8), "png"
                    )
                )
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "bytes": blobs,
                    "w": np.full(len(pdf), out_w, dtype=np.int32),
                    "h": np.full(len(pdf), out_h, dtype=np.int32),
                    "fmt": ["png"] * len(pdf),
                    "caption": pdf["caption"],
                }
            )

    return df.mapInPandas(
        run,
        schema=(
            "image_id string, bytes binary, w int, h int, "
            "fmt string, caption string"
        ),
    )


def top_duplicated(df: DataFrame, n: int = 10) -> DataFrame:
    """Window demo: top-n most duplicated phash groups."""
    w = Window.orderBy(F.desc("dup_count"), "phash")
    return (
        phash_exact_dups(df)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
    )


def extract_patches(df: DataFrame, patch: int = 4) -> DataFrame:
    """ViT-style patch extraction: decode each image and emit one row
    per non-overlapping ``patch``×``patch`` tile of the top-left
    aligned grid — (image_id, py, px, sum_r, sum_g, sum_b), channel
    sums as exact integers (the oracle predicts them bit-for-bit for
    lossless formats). Partial edge tiles are dropped, matching the
    fixed-grid tokenization a vision transformer uses.

    One mapInPandas over Arrow batches; per-image work is a single
    vectorized reshape-sum (H/p, p, W/p, p, 3) → (H/p, W/p, 3) — no
    per-pixel Python. Undecodable rows are skipped (quarantine is
    decode_verify's job); grayscale decodes are broadcast to 3
    channels so the schema is stable.
    """
    if patch <= 0:
        raise ValueError("patch must be positive")

    def run(batches):
        for pdf in batches:
            ids: list = []
            pys: list = []
            pxs: list = []
            sums: list = []
            for img_id, buf, fmt in zip(
                pdf["image_id"], pdf["bytes"], pdf["fmt"]
            ):
                try:
                    arr = imagecodec.decode_image(buf, fmt)
                except Exception:
                    continue
                if arr.ndim == 2:
                    arr = np.stack([arr] * 3, axis=2)
                nh, nw = arr.shape[0] // patch, arr.shape[1] // patch
                if nh == 0 or nw == 0:
                    continue
                s = (
                    arr[: nh * patch, : nw * patch]
                    .astype(np.int64)
                    .reshape(nh, patch, nw, patch, 3)
                    .sum(axis=(1, 3))
                    .reshape(-1, 3)
                )
                ids.extend([img_id] * (nh * nw))
                pys.append(np.repeat(np.arange(nh, dtype=np.int32), nw))
                pxs.append(np.tile(np.arange(nw, dtype=np.int32), nh))
                sums.append(s)
            if sums:
                allsum = np.concatenate(sums)
                yield pd.DataFrame(
                    {
                        "image_id": ids,
                        "py": np.concatenate(pys),
                        "px": np.concatenate(pxs),
                        "sum_r": allsum[:, 0],
                        "sum_g": allsum[:, 1],
                        "sum_b": allsum[:, 2],
                    }
                )

    return df.select("image_id", "bytes", "fmt").mapInPandas(
        run,
        schema=(
            "image_id string, py int, px int, "
            "sum_r long, sum_g long, sum_b long"
        ),
    )


def dihedral_orientations(arr: np.ndarray) -> list[np.ndarray]:
    """The 8 elements of the dihedral group D4 as EXACT array
    permutations (np.rot90/flipud move pixels, never resample), in a
    fixed enumeration order: rot0..rot270, then flipud followed by
    rot0..rot270."""
    outs = [np.rot90(arr, k) for k in range(4)]
    f = np.flipud(arr)
    outs += [np.rot90(f, k) for k in range(4)]
    return outs


def dihedral_phash(df: DataFrame) -> DataFrame:
    """Rotation/mirror-invariant perceptual hash: decode each image and
    take the minimum (as uint64) of the 8 dihedral-orientation phashes.
    Because the operator enumerates ALL of D4 from the decoded pixels,
    a rotated or mirrored copy produces the IDENTICAL hash set — the
    orientations are exact pixel permutations, so FP details inside the
    hash cannot break the invariance — and therefore the identical
    canonical min. Near-dup search then composes with phash_near_dups
    on the canonical column (banded Hamming LSH, no all-pairs).

    Emits (image_id, dihedral_phash, decode_error) — decode failures
    land in the error lane, never throw."""

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            out = {
                "image_id": pdf["image_id"],
                "dihedral_phash": np.zeros(n, dtype=np.int64),
                "decode_error": np.array([None] * n, dtype=object),
            }
            for k, (buf, fmt) in enumerate(zip(pdf["bytes"], pdf["fmt"])):
                try:
                    arr = imagecodec.decode_image(buf, fmt)
                except Exception as e:  # quarantine lane
                    out["decode_error"][k] = f"{type(e).__name__}: {e}"
                    continue
                best = min(
                    imagecodec.phash64(o) & 0xFFFFFFFFFFFFFFFF
                    for o in dihedral_orientations(arr)
                )
                out["dihedral_phash"][k] = np.uint64(best).astype(np.int64)
            yield pd.DataFrame(out)

    return df.mapInPandas(
        run,
        schema="image_id string, dihedral_phash long, decode_error string",
    )


def dihedral_variants(df: DataFrame, suffix: str = "r") -> DataFrame:
    """Test/contract scaffolding: re-emit every image transformed by
    dihedral orientation (numeric image id % 8), re-encoded as PNG
    (lossless, so variant pixels are EXACT permutations of the decoded
    base — the precondition for hash-set equality). Returns the same
    schema with image_id suffixed."""

    def run(batches):
        for pdf in batches:
            rows = dict(pdf)
            blobs, fmts, ws, hs = [], [], [], []
            for iid, buf, fmt in zip(
                pdf["image_id"], pdf["bytes"], pdf["fmt"]
            ):
                arr = imagecodec.decode_image(buf, fmt)
                o = int(str(iid)[3:]) % 8
                g = dihedral_orientations(arr)[o]
                blobs.append(imagecodec.encode_image(g, "png"))
                fmts.append("png")
                hs.append(g.shape[0])
                ws.append(g.shape[1])
            rows["bytes"] = blobs
            rows["fmt"] = fmts
            # odd rotations transpose the frame: keep metadata honest
            if "w" in rows:
                rows["w"] = ws
            if "h" in rows:
                rows["h"] = hs
            rows["image_id"] = pdf["image_id"] + suffix
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema=df.schema)


def sharpness_scores(df: DataFrame, channel: int = 1) -> DataFrame:
    """Per-image sharpness + contrast statistics over REAL decoded
    pixels — the standard pre-training image-quality gate (blurry /
    flat frames score near zero and get dropped by the curation
    filter). Per image, over one channel:

    * ``lap_sq_sum`` — sum of squared responses of the 4-neighbor
      Laplacian ``4c - up - down - left - right`` over interior pixels
      (variance-of-Laplacian is the classic focus measure, Pech-Pacheco
      et al. 2000);
    * ``n_interior`` — interior pixel count (h-2)*(w-2);
    * ``sum_p`` / ``sum_p2`` / ``n_pix`` — channel sum, squared sum and
      pixel count, from which RMS contrast is exact:
      ``var = sum_p2/n - (sum_p/n)^2``.

    ALL five are exact int64 sums of integer pixel values, so for
    lossless formats an external engine replays them bit-for-bit from
    the pixel formula — the oracle contract. ``sharpness`` (mean
    squared Laplacian) is derived from the exact sums, rounded to 6.

    One mapInPandas pass; per-image work is four vectorized array
    shifts — no per-pixel Python. Undecodable rows are skipped
    (quarantine is decode_verify's job); grayscale uses the single
    plane; images with no interior (h or w < 3) emit lap_sq_sum 0.
    """

    def run(batches):
        for pdf in batches:
            ids: list = []
            rows: list = []
            for img_id, buf, fmt in zip(
                pdf["image_id"], pdf["bytes"], pdf["fmt"]
            ):
                try:
                    arr = imagecodec.decode_image(buf, fmt)
                except Exception:
                    continue
                p = (arr[:, :, channel] if arr.ndim == 3 else arr).astype(
                    np.int64
                )
                h, w = p.shape
                if h >= 3 and w >= 3:
                    lap = (
                        4 * p[1:-1, 1:-1]
                        - p[:-2, 1:-1]
                        - p[2:, 1:-1]
                        - p[1:-1, :-2]
                        - p[1:-1, 2:]
                    )
                    lap_sq = int((lap * lap).sum())
                    n_int = (h - 2) * (w - 2)
                else:
                    lap_sq, n_int = 0, 0
                ids.append(img_id)
                rows.append(
                    (
                        h * w,
                        int(p.sum()),
                        int((p * p).sum()),
                        lap_sq,
                        n_int,
                    )
                )
            if ids:
                a = np.array(rows, dtype=np.int64)
                yield pd.DataFrame(
                    {
                        "image_id": ids,
                        "n_pix": a[:, 0],
                        "sum_p": a[:, 1],
                        "sum_p2": a[:, 2],
                        "lap_sq_sum": a[:, 3],
                        "n_interior": a[:, 4],
                        "sharpness": np.round(
                            np.divide(
                                a[:, 3],
                                np.maximum(a[:, 4], 1),
                                dtype=np.float64,
                            ),
                            6,
                        ),
                    }
                )

    return df.select("image_id", "bytes", "fmt").mapInPandas(
        run,
        schema=(
            "image_id string, n_pix long, sum_p long, sum_p2 long, "
            "lap_sq_sum long, n_interior long, sharpness double"
        ),
    )


def blob_stats(
    df: DataFrame, channel: int = 1, threshold: int = 128
) -> DataFrame:
    """Connected-component statistics over thresholded REAL decoded
    pixels — the classic binary-segmentation feature (blob counting;
    Rosenfeld & Pfaltz 1966 labeling semantics, 4-connectivity): per
    image, mask = channel >= threshold, then

      (image_id, mask_pixels, n_blobs, largest_blob)

    all exact integers, so an external engine can replay them from the
    pixel formula with a recursive min-label closure (connected
    components as a recursive CTE over 4-neighbor pixel pairs).

    One mapInPandas pass; the labeling is a BATCH-TENSOR min-label
    flood: every image in the Arrow batch is padded into one
    (B, Hmax, Wmax) int32 tensor and all blobs in all images converge
    together under vectorized 4-neighbor min-propagation (iterations
    bounded by the longest in-blob shortest path, each a full-tensor
    numpy op — no per-pixel Python). Undecodable rows are skipped
    (decode_verify owns quarantine).
    """
    if not (0 <= threshold <= 255):
        raise ValueError("threshold must be in 0..255")

    INF = np.iinfo(np.int32).max

    def run(batches):
        for pdf in batches:
            ids: list = []
            planes: list = []
            for img_id, buf, fmt in zip(
                pdf["image_id"], pdf["bytes"], pdf["fmt"]
            ):
                try:
                    arr = imagecodec.decode_image(buf, fmt)
                except Exception:
                    continue
                p = arr[:, :, channel] if arr.ndim == 3 else arr
                ids.append(img_id)
                planes.append(p)
            if not ids:
                continue
            B = len(planes)
            hm = max(p.shape[0] for p in planes)
            wm = max(p.shape[1] for p in planes)
            mask = np.zeros((B, hm, wm), dtype=bool)
            for b, p in enumerate(planes):
                mask[b, : p.shape[0], : p.shape[1]] = p >= threshold
            lab = np.where(
                mask,
                np.arange(hm * wm, dtype=np.int32).reshape(1, hm, wm),
                INF,
            )
            while True:
                nxt = lab.copy()
                nxt[:, 1:, :] = np.minimum(nxt[:, 1:, :], lab[:, :-1, :])
                nxt[:, :-1, :] = np.minimum(nxt[:, :-1, :], lab[:, 1:, :])
                nxt[:, :, 1:] = np.minimum(nxt[:, :, 1:], lab[:, :, :-1])
                nxt[:, :, :-1] = np.minimum(nxt[:, :, :-1], lab[:, :, 1:])
                nxt = np.where(mask, nxt, INF)
                if np.array_equal(nxt, lab):
                    break
                lab = nxt
            rows = []
            for b in range(B):
                roots, counts = np.unique(
                    lab[b][mask[b]], return_counts=True
                )
                rows.append(
                    (
                        int(mask[b].sum()),
                        len(roots),
                        int(counts.max()) if len(counts) else 0,
                    )
                )
            a = np.array(rows, dtype=np.int64).reshape(B, 3)
            yield pd.DataFrame(
                {
                    "image_id": ids,
                    "mask_pixels": a[:, 0],
                    "n_blobs": a[:, 1],
                    "largest_blob": a[:, 2],
                }
            )

    return df.select("image_id", "bytes", "fmt").mapInPandas(
        run,
        schema=(
            "image_id string, mask_pixels long, n_blobs long, "
            "largest_blob long"
        ),
    )
