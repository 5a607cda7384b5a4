"""Multimodal (binary) column operators (SURVEY.md §2.10).

Images/audio/video are opaque ``binary`` columns plus a typed metadata
struct. The column model:

    ["binarize", rel, {"col": "text", "as": "payload"}]
        utf-8 encode a string column into a binary payload column
        (stand-in for reading real media bytes).
    ["media", rel, {"col": "payload", "mime": "image/png", "as": "media"}]
        typed media-metadata struct (mime, width, height, n_bytes)
        alongside the opaque payload. width/height are NULL until a
        decoder fills them; n_bytes is computed from the payload.
    ["decode-features", rel, {"col": "payload", "id": "doc_id"}]
        feature extraction -> (id, n_bytes, header_hex, fake_w, fake_h).
        DEFAULT (stub) path: pure Column expressions — octet_length,
        hex(substring), arithmetic — whole-stage codegen, NO Python in
        the plan. With {"media": true}: adds the filled media struct.
    ["decode-features", rel, {"decoder": fn, "schema": <DDL>}]
        the REAL-decoder escape hatch: Arrow-batched ``mapInPandas``;
        ``fn`` receives the whole pandas Series of payloads per batch
        (vectorize inside — PIL/librosa/av per item is the floor, never
        per-row Python on features an expression can compute) and
        returns a DataFrame matching ``schema`` (minus the id column,
        which the operator re-attaches positionally).

Scale posture: the stub path is a narrow projection (no shuffle, no
Python worker at all). The decoder hatch is narrow too, Arrow-batched,
and prunes to exactly (id, payload) before the Python stage so only the
bytes actually decoded cross the JVM<->Python boundary. For 100 TB
media, bump ``spark.sql.execution.arrow.maxRecordsPerBatch`` down so a
batch of large payloads fits executor memory.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, functions as F

from ..errors import ArityError
from ..eval import Ctx, defop
from ..model import KStreamRel, Rel


from .util import int_opt  # noqa: E402  (curated int parse)
from .util import opts_of as _opts  # noqa: E402  (shared option merging)


@defop("binarize")
def op_binarize(ctx: Ctx, rel: Rel, *rest) -> Rel:
    opts = _opts(rest)
    col = opts.get("col", "text")
    out = opts.get("as", "payload")
    return rel.with_df(rel.df.withColumn(out, F.encode(F.col(col), "UTF-8")))


def media_struct(
    payload: Column, mime: Column, width: Column = None, height: Column = None
) -> Column:
    """(mime string, width int, height int, n_bytes bigint) — the typed
    metadata that rides next to an opaque media payload."""
    w = width if width is not None else F.lit(None).cast("int")
    h = height if height is not None else F.lit(None).cast("int")
    return F.struct(
        mime.alias("mime"),
        w.cast("int").alias("width"),
        h.cast("int").alias("height"),
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
    )


@defop("media")
def op_media(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Attach the media-metadata struct column. ``mime`` is a column name
    (taken per-row) or a literal string; ``width``/``height`` are column
    names when known upstream, else NULL until a decoder fills them."""
    opts = _opts(rest)
    col = opts.get("col", "payload")
    out = opts.get("as", "media")
    mime = opts.get("mime", "application/octet-stream")
    mime_c = F.col(mime) if mime in rel.df.columns else F.lit(mime)
    w = F.col(opts["width"]) if "width" in opts else None
    h = F.col(opts["height"]) if "height" in opts else None
    return rel.with_df(
        rel.df.withColumn(out, media_struct(F.col(col), mime_c, w, h))
    )


@defop("decode-features")
def op_decode_features(ctx: Ctx, rel: Rel, *rest) -> KStreamRel:
    """Feature extraction over a binary column — see module docstring."""
    opts = _opts(rest)
    col = opts.get("col", "payload")
    idc = opts.get("id", "doc_id")
    decoder = opts.get("decoder")
    pruned = rel.df.select(idc, col)

    if decoder is None:
        # stub path: every feature is a plain expression; keep it JVM-side
        # (whole-stage codegen), no Python worker in the plan at all
        n = F.octet_length(F.col(col)).cast("bigint")
        cols = [
            F.col(idc),
            n.alias("n_bytes"),
            F.lower(F.hex(F.substring(F.col(col), 1, 4))).alias("header_hex"),
            (n % 640).cast("bigint").alias("fake_w"),
            ((n * 7) % 480).cast("bigint").alias("fake_h"),
        ]
        out = pruned.select(*cols)
        if opts.get("media"):
            mime = opts.get("mime", "application/octet-stream")
            out = out.withColumn(
                "media",
                F.struct(
                    F.lit(mime).alias("mime"),
                    F.col("fake_w").cast("int").alias("width"),
                    F.col("fake_h").cast("int").alias("height"),
                    F.col("n_bytes").alias("n_bytes"),
                ),
            )
        return KStreamRel(out, key_cols=(idc,))

    # real-decoder hatch: Arrow-batched; the decoder sees the whole pandas
    # Series per batch and returns a DataFrame of feature columns
    schema = opts.get("schema")
    if not schema:
        raise ArityError("decode-features with a decoder needs {'schema': <DDL>}")

    def extract(batches: Iterator) -> Iterator:
        for pdf in batches:
            feats = decoder(pdf[col])
            feats.insert(0, idc, pdf[idc].values)
            yield feats

    return KStreamRel(pruned.mapInPandas(extract, schema), key_cols=(idc,))


@defop("frame-sample")
def op_frame_sample(ctx: Ctx, rel: Rel, *rest) -> KStreamRel:
    """["frame-sample", rel, {"col": "payload", "id": "doc_id",
    "frame_bytes": 256, "every": 2, "max_frames": 8}] — explode a media
    payload into sampled frame records (id, frame_idx, frame binary):
    the video frame-sampling batch shape. The "demuxer" is stubbed as
    fixed-size byte slicing (deterministic, oracle-comparable); a real
    one plugs in through decode-features' mapInPandas hatch with the
    same output shape. Frame indices stride by ``every`` and cap at
    ``max_frames``.

    Scale posture: pure expressions (sequence -> transform(substring) ->
    posexplode), narrow — no shuffle, no Python; output rows fan out at
    most max_frames per input row, so downstream partition sizing is
    bounded. Empty payloads emit one empty frame (frame_idx 0)."""
    opts = _opts(rest)
    col = opts.get("col", "payload")
    idc = opts.get("id", "doc_id")
    fb = int_opt(opts, "frame_bytes", "frame-sample", 256)
    ev = int_opt(opts, "every", "frame-sample", 1)
    mx = int_opt(opts, "max_frames", "frame-sample", 8)
    if fb < 1 or ev < 1 or mx < 1:
        from ..errors import ArityError

        # fb is a divisor (ANSI DIVIDE_BY_ZERO at first action) and ev a
        # sequence step (zero-step sequence error) — refuse at construction
        raise ArityError(
            f"frame-sample needs frame_bytes >= 1, every >= 1 and "
            f"max_frames >= 1, got frame_bytes={fb}, every={ev}, "
            f"max_frames={mx}"
        )
    frames = (
        f"transform("
        f"  slice(sequence(0, greatest(int(ceil(octet_length(`{col}`) / cast({fb} as double))), 1) - 1, {ev}), 1, {mx}),"
        f"  i -> struct(i AS frame_idx, substring(`{col}`, i * {fb} + 1, {fb}) AS frame))"
    )
    out = (
        rel.df.select(idc, col)
        .select(F.col(idc), F.explode(F.expr(frames)).alias("__f"))
        .select(F.col(idc), F.col("__f.frame_idx"), F.col("__f.frame"))
    )
    return KStreamRel(out, key_cols=(idc, "frame_idx"))
