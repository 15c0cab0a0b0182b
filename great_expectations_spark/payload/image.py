"""Image-payload expectations: Arrow-vectorized decode checks.

The reference never touches binary payloads (its test type lattice is
flat relational, self_check/util.py:1110-1121); these are the engine's
additions for the image+caption table (BASELINE.json north_star):

- expect_image_bytes_to_be_decodable
- expect_image_dimensions_to_match_metadata   (decoded w/h == w/h cols)
- expect_image_format_to_match_metadata       (decoded fmt == fmt col)
- expect_image_phash_to_match                 (recomputed phash == col,
                                               hamming tolerance)
- expect_image_pixels_to_match_reference      (PSNR >= threshold vs a
                                               reference table; real
                                               lossy-codec PSNR needs a
                                               real decoder — see codec)

All run as pandas UDFs over Arrow batches (never per-row Python), and
are compiled as MapChecks so their counts and bounded violation
samples fuse into the suite's single per-partition pass, where each
payload is decoded once. Columns are pruned so suites WITHOUT payload
checks never read `bytes`.
"""

from __future__ import annotations

from typing import Any, Dict, Tuple

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.checks import MapCheck
from ..operators.common import decode_single, get_mostly, json_value
from .codec import decode_image, phash_from_pixels


# Fused single-decode feature extractor: every image check derives its
# condition from fields of this one struct, so a suite with N image
# expectations decodes each payload ONCE per scan instead of N times.
# All calls share an identical deterministic expression, which Catalyst
# collapses into a single ArrowEvalPython evaluation per pass.
_IMAGE_FEATURES_T = StructType(
    [
        StructField("ok", BooleanType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("fmt", StringType()),
        StructField("phash", LongType()),
    ]
)


@F.pandas_udf(_IMAGE_FEATURES_T)
def _image_features(payload: pd.Series) -> pd.DataFrame:
    """Fused decode + phash over one Arrow batch.

    Header parsing/validation is per row (cheap struct/bytes ops);
    the pixel math — the actual CPU — is vectorized by stacking all
    same-shape images of the batch into one (k, h, w) array and
    computing the 8x8 mean-pool, per-image median threshold, and bit
    packing as whole-group numpy ops. A web corpus has few distinct
    decoded shapes per batch (here {8,16,24,32}^2), so this replaces
    ~6 numpy dispatches per IMAGE with ~6 per GROUP — measured ~4x
    less Python CPU per scan than the per-row loop it replaced
    (equivalence is tested against phash_from_pixels, including on
    shapes not divisible by 8, which fall back to the per-row path).
    """
    import numpy as np

    k = len(payload)
    oks, ws, hs, fmts = [None] * k, [None] * k, [None] * k, [None] * k
    phs = [None] * k
    groups: Dict[Tuple[int, int], Tuple[list, list]] = {}
    for i, b in enumerate(payload):
        if b is None:
            continue
        try:
            fmt, w, h, px = decode_image(bytes(b))
        except ValueError:
            oks[i] = False
            continue
        oks[i] = True
        ws[i] = w
        hs[i] = h
        fmts[i] = fmt
        if h % 8 == 0 and w % 8 == 0:
            idxs, pxs = groups.setdefault((h, w), ([], []))
            idxs.append(i)
            pxs.append(px)
        else:  # general path, identical math (phash_from_pixels)
            phs[i] = phash_from_pixels(px)
    for (h, w), (idxs, pxs) in groups.items():
        arr = np.stack(pxs)  # (g, h, w) uint8
        g = arr.shape[0]
        grid = arr.reshape(g, 8, h // 8, 8, w // 8).mean(axis=(2, 4))
        flat = grid.reshape(g, 64)
        med = np.median(flat, axis=1, keepdims=True)
        bits = (flat > med).astype(np.uint8)
        packed = np.packbits(bits, axis=1)  # (g, 8) MSB-first
        vals = (
            np.frombuffer(packed.tobytes(), dtype=">u8")
            .astype(np.uint64)
            .view(np.int64)
        )
        for j, i in enumerate(idxs):
            phs[i] = int(vals[j])
    # explicit nullable dtypes are load-bearing: an object-dtype
    # Series that contains a None routes the Arrow conversion through
    # float64 inference, silently corrupting int64 values above 2^53
    # (observed on PySpark 4.1: ~512-ulp errors on 62-bit phashes ->
    # mass false violations, nondeterministic by batch)
    return pd.DataFrame(
        {
            "ok": pd.array(oks, dtype="boolean"),
            "w": pd.array(ws, dtype="Int32"),
            "h": pd.array(hs, dtype="Int32"),
            "fmt": pd.array(fmts, dtype="string"),
            "phash": pd.array(phs, dtype="Int64"),
        }
    )


def _image_map_check(
    index, cfg, cond: Column, column: str, value: Column = None
) -> MapCheck:
    col = F.col(column)
    value = value if value is not None else json_value(col)
    return MapCheck(
        index=index,
        config=cfg,
        columns=[column],
        build=lambda stats: (cond, value),
        consider=lambda: F.col(column).isNotNull(),
        consider_key=f"nonnull:{column}",
        denominator="nonnull",
        mostly=get_mostly(cfg.kwargs),
        value_decoder=decode_single,
    )


def compile_bytes_decodable(index, cfg, schema) -> MapCheck:
    column = cfg.kwargs.get("column", "bytes")
    id_column = cfg.kwargs.get("id_column", "image_id")
    cond = ~_image_features(F.col(column))["ok"]
    return _image_map_check(
        index, cfg, cond, column, value=json_value(F.col(id_column))
    )


def compile_dimensions_match(index, cfg, schema) -> MapCheck:
    column = cfg.kwargs.get("column", "bytes")
    w_col = cfg.kwargs.get("width_column", "w")
    h_col = cfg.kwargs.get("height_column", "h")
    id_column = cfg.kwargs.get("id_column", "image_id")
    meta = _image_features(F.col(column))
    expected = (meta["w"] == F.col(w_col)) & (meta["h"] == F.col(h_col))
    # undecodable payloads are their own check's problem; treat decoded
    # nulls as unexpected here only when metadata is present
    cond = ~F.coalesce(expected, F.lit(False))
    return _image_map_check(
        index, cfg, cond, column, value=json_value(F.col(id_column))
    )


def compile_format_match(index, cfg, schema) -> MapCheck:
    column = cfg.kwargs.get("column", "bytes")
    fmt_col = cfg.kwargs.get("format_column", "fmt")
    id_column = cfg.kwargs.get("id_column", "image_id")
    meta = _image_features(F.col(column))
    cond = ~F.coalesce(meta["fmt"] == F.col(fmt_col), F.lit(False))
    return _image_map_check(
        index, cfg, cond, column, value=json_value(F.col(id_column))
    )


def compile_phash_match(index, cfg, schema) -> MapCheck:
    """Recompute the perceptual hash from the payload and compare to
    the stored phash column within a hamming-distance tolerance
    (bit_count(xor) — JVM-side after the vectorized recompute)."""
    column = cfg.kwargs.get("column", "bytes")
    phash_col = cfg.kwargs.get("phash_column", "phash")
    id_column = cfg.kwargs.get("id_column", "image_id")
    max_hamming = int(cfg.kwargs.get("max_hamming_distance", 0))
    recomputed = _image_features(F.col(column))["phash"]
    hamming = F.bit_count(recomputed.bitwiseXOR(F.col(phash_col)))
    cond = ~F.coalesce(hamming <= F.lit(max_hamming), F.lit(False))
    return _image_map_check(
        index, cfg, cond, column, value=json_value(F.col(id_column))
    )


def compile_metadata_quality_gate(index, cfg, schema) -> MapCheck:
    """expect_image_metadata_to_pass_quality_gate: the LAION-style
    pre-decode gate (min side, aspect ratio, format whitelist,
    caption length) as a declarative expectation — pure metadata
    expressions over (w, h, fmt, caption), so a suite carrying it
    never reads the bytes column for this check and the condition
    fuses into the single-pass agg like any map metric. The same
    rules as suite_queries.image_gate_flags / image_quality_gate;
    kwargs: min_side, max_aspect, formats, caption_chars, plus the
    *_column names and mostly. Null or missing metadata FAILS the
    gate (a record you cannot gate is not a keeper)."""
    w_col = cfg.kwargs.get("width_column", "w")
    h_col = cfg.kwargs.get("height_column", "h")
    fmt_col = cfg.kwargs.get("format_column", "fmt")
    cap_col = cfg.kwargs.get("caption_column", "caption")
    id_column = cfg.kwargs.get("id_column", "image_id")
    min_side = int(cfg.kwargs.get("min_side", 16))
    max_aspect = float(cfg.kwargs.get("max_aspect", 2.5))
    formats = tuple(cfg.kwargs.get("formats", ("jpeg", "png", "webp")))
    cap_min, cap_max = cfg.kwargs.get("caption_chars", (100, 450))
    w, h = F.col(w_col), F.col(h_col)
    cap_len = F.length(F.coalesce(F.col(cap_col), F.lit("")))
    fail = (
        (F.least(w, h) < F.lit(min_side))
        # try_divide: a zero side must fail the gate (the min_side
        # term or the null-coalesce below catches it), never abort
        # the job under ANSI mode
        | (
            F.try_divide(F.greatest(w, h), F.least(w, h))
            > F.lit(max_aspect)
        )
        | (~F.col(fmt_col).isin(*formats))
        | (cap_len < F.lit(int(cap_min)))
        | (cap_len > F.lit(int(cap_max)))
    )
    cond = F.coalesce(fail, F.lit(True))  # null w/h/fmt fails the gate
    return MapCheck(
        index=index,
        config=cfg,
        columns=[w_col, h_col, fmt_col, cap_col],
        build=lambda stats: (cond, json_value(F.col(id_column))),
        consider=None,  # every record is gated, nulls included
        denominator="total",
        mostly=get_mostly(cfg.kwargs),
        value_decoder=decode_single,
    )


def compile_pixels_match_reference(index, cfg, schema):
    """PSNR >= threshold against a reference table's payloads.

    Requires joining on image_id against an aux table and decoding both
    sides; with the fake codec, identical seeds give PSNR=inf and any
    corruption gives low PSNR. With a REAL lossy codec this is where
    decoded-pixel allclose (PSNR>=40dB) runs — the decode internals are
    the only stubbed part (see payload/codec.py).
    """
    from functools import partial

    from ..core.config import parse_result_format, result_format_at_least
    from ..core.result import format_map_output, mostly_success
    from ..operators.checks import JobCheck

    column = cfg.kwargs.get("column", "bytes")
    id_column = cfg.kwargs.get("id_column", "image_id")
    ref_table = cfg.kwargs["reference_table_name"]
    min_psnr = float(cfg.kwargs.get("min_psnr", 40.0))
    mostly = get_mostly(cfg.kwargs)

    @F.pandas_udf("double")
    def _psnr_pair(a: pd.Series, b: pd.Series) -> pd.Series:
        from .codec import decode_image as dec, psnr as _psnr

        out = []
        for pa, pb in zip(a, b):
            if pa is None or pb is None:
                out.append(None)
                continue
            try:
                _, _, _, xa = dec(bytes(pa))
                _, _, _, xb = dec(bytes(pb))
                out.append(_psnr(xa, xb))
            except ValueError:
                out.append(0.0)
        return pd.Series(out, dtype="float64")

    def run(df, stats: Dict[str, Any], cache):
        rf = parse_result_format(
            cfg.kwargs.get("result_format", cache.result_format)
        )
        aux = cache.aux_tables
        if ref_table not in aux:
            raise ValueError(f"reference table {ref_table!r} not provided")
        element_count = stats["table.row_count"]
        # one golden payload per id: a duplicated reference id would
        # fan the join out and double-count rows
        ref = (
            aux[ref_table]
            .select(
                F.col(id_column).alias("__rid"),
                F.col(column).alias("__rbytes"),
            )
            .dropDuplicates(["__rid"])
        )
        joined = df.select(id_column, column).join(
            ref, F.col(id_column) == F.col("__rid"), "inner"
        )
        scored = joined.withColumn(
            "__psnr", _psnr_pair(F.col(column), F.col("__rbytes"))
        )
        agg = scored.agg(
            F.count(F.lit(1)).alias("considered"),
            F.sum(
                F.when(
                    ~F.coalesce(F.col("__psnr") >= min_psnr, F.lit(False)), 1
                ).otherwise(0)
            ).alias("unexpected"),
        ).first()
        considered = agg["considered"] or 0
        unexpected_count = agg["unexpected"] or 0
        unexpected_list = None
        if rf["result_format"] != "BOOLEAN_ONLY":
            cap = (
                cache.complete_cap
                if result_format_at_least(rf, "COMPLETE")
                else rf["partial_unexpected_count"]
            )
            rows = (
                scored.where(
                    ~F.coalesce(F.col("__psnr") >= min_psnr, F.lit(False))
                )
                .select(id_column)
                .limit(cap)
                .collect()
            )
            unexpected_list = [r[0] for r in rows]
        success = (
            True
            if element_count == 0 or considered == 0
            else mostly_success(considered, unexpected_count, mostly)
        )
        out = format_map_output(
            result_format=rf,
            success=success,
            element_count=element_count,
            nonnull_count=considered,
            unexpected_count=unexpected_count,
            unexpected_list=unexpected_list,
        )
        return out["success"], out.get("result", {})

    return JobCheck(
        index=index,
        config=cfg,
        needs={"table.row_count": F.count(F.lit(1))},
        run=run,
    )


IMAGE_COMPILERS = {
    "expect_image_bytes_to_be_decodable": compile_bytes_decodable,
    "expect_image_dimensions_to_match_metadata": compile_dimensions_match,
    "expect_image_format_to_match_metadata": compile_format_match,
    "expect_image_phash_to_match": compile_phash_match,
    "expect_image_metadata_to_pass_quality_gate": compile_metadata_quality_gate,
    "expect_image_pixels_to_match_reference": compile_pixels_match_reference,
}
