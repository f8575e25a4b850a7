"""Relational tile planner — SURVEY.md O-10/O-11/O-23/O-13/O-18.

Re-expresses the reference's argmin scan (vllm/process/image_process.py:11-42)
as a broadcast cross join against the 13-row candidate table plus a window
top-1 — the Spark-first formulation of "find the closest aspect ratio".

Scan→window translation (verified against the kernel by property test):
the reference iterates candidates in ascending-area order keeping the first
min-diff candidate, except a later equal-diff candidate replaces it iff
``width*height > 0.5 * image_size^2 * i * j``. Equivalently, within the
min-diff group: the LAST candidate satisfying the area condition wins, else
the FIRST. As an ORDER BY:

    diff ASC,
    area_cond DESC,
    CASE WHEN area_cond THEN -pos ELSE pos END ASC

where ``pos`` is the candidate's scan position. Broadcast join: the candidate
side is 13 rows — never a shuffle of the page side for the join itself; the
window partitions by the page key (one shuffle, unavoidable for ranking,
and AQE-coalesced).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from deepseek_ocr_spark.config import (
    BASE_SIZE,
    DEFAULT_CONFIG,
    IMAGE_SIZE,
    MAX_CROPS,
    MIN_CROPS,
    EngineConfig,
)
from deepseek_ocr_spark.kernels.tiling import candidate_ratios
from deepseek_ocr_spark.kernels.tokens import grid_side


def candidates_df(spark: SparkSession, min_crops: int = MIN_CROPS,
                  max_crops: int = MAX_CROPS) -> DataFrame:
    """The literal candidate dimension table (image_process.py:32-36)."""
    rows = [
        (pos, i, j) for pos, (i, j) in enumerate(candidate_ratios(min_crops, max_crops))
    ]
    return spark.createDataFrame(rows, "pos INT, i INT, j INT")


def candidates_sql_values(min_crops: int = MIN_CROPS, max_crops: int = MAX_CROPS) -> str:
    """Same table as a SQL VALUES literal for the DuckDB oracle."""
    rows = ", ".join(
        f"({pos}, {i}, {j})"
        for pos, (i, j) in enumerate(candidate_ratios(min_crops, max_crops))
    )
    return f"(VALUES {rows}) AS c(pos, i, j)"


def with_tile_plan(
    pages: DataFrame,
    key_cols: list[str],
    width_col: str = "width",
    height_col: str = "height",
    image_size: int = IMAGE_SIZE,
    crop_mode: bool = True,
) -> DataFrame:
    """pages(+key, width, height) → + (nw, nh) via broadcast argmin join.

    Argmin as a lexicographic ``min(struct(...))`` AGGREGATION, not a window
    top-1: the struct key (diff, area_rank, pos_key) encodes exactly the
    scan→ORDER BY translation in the module docstring (area_rank 0 when the
    area condition holds — DESC becomes ASC on the rank; pos_key flips sign
    inside the area group). A hash aggregate combines map-side, so the 13×
    candidate inflation collapses back to ONE row per page BEFORE the
    exchange, and no per-partition sort happens at all — vs the window
    formulation which shuffles all 13 rows per page and sorts them.
    (The DuckDB oracle keeps the window formulation on purpose: two
    independent derivations of the same argmin cross-check each other.)

    The small-page bypass (image_process.py:363-375) and crop_mode=False
    short-circuit to (1,1) via CASE. Non-key page columns ride inside the
    min-struct (every candidate of a page carries identical copies).
    """
    spark = pages.sparkSession
    cand = F.broadcast(candidates_df(spark))
    w, h = F.col(width_col), F.col(height_col)
    passthrough = [c for c in pages.columns if c not in key_cols]

    area_cond = w * h > F.lit(0.5 * image_size * image_size) * F.col("i") * F.col("j")
    scored = pages.crossJoin(cand).select(
        *key_cols,
        F.struct(
            F.abs(w / h - F.col("i") / F.col("j")).alias("diff"),
            F.when(area_cond, 0).otherwise(1).alias("area_rank"),
            F.when(area_cond, -F.col("pos")).otherwise(F.col("pos")).alias("pos_key"),
            F.col("i").alias("i"),
            F.col("j").alias("j"),
            *[F.col(c).alias(c) for c in passthrough],
        ).alias("cand"),
    )
    best = scored.groupBy(*key_cols).agg(F.min("cand").alias("b"))

    bw, bh = F.col(f"b.{width_col}"), F.col(f"b.{height_col}")
    bypass = (bw <= image_size) & (bh <= image_size) if crop_mode else F.lit(True)
    return best.select(
        *key_cols,
        *[F.col(f"b.{c}").alias(c) for c in passthrough],
        F.when(bypass, F.lit(1)).otherwise(F.col("b.i")).alias("nw"),
        F.when(bypass, F.lit(1)).otherwise(F.col("b.j")).alias("nh"),
    )


def tile_plan_expr(width: Column, height: Column, cfg: EngineConfig = DEFAULT_CONFIG) -> Column:
    """(nw, nh) via ``F.aggregate`` over the 13-candidate array — the
    reference argmin scan (image_process.py:11-25) translated literally into
    a whole-stage-codegen fold: no shuffle, no UDF, no join. The per-row
    counterpart of ``with_tile_plan``.

    Returns struct(nw, nh).
    """
    cands = F.array(
        *[
            F.struct(F.lit(i).alias("i"), F.lit(j).alias("j"))
            for (i, j) in candidate_ratios(cfg.min_crops, cfg.max_crops)
        ]
    )
    aspect = width.cast("double") / height.cast("double")
    area = (width * height).cast("double")
    half_sq = F.lit(0.5 * cfg.image_size * cfg.image_size)

    def step(acc, c):
        diff = F.abs(aspect - c["i"].cast("double") / c["j"].cast("double"))
        better = diff < acc["diff"]
        tie_takes = (diff == acc["diff"]) & (area > half_sq * c["i"] * c["j"])
        return F.when(
            better | tie_takes,
            F.struct(diff.alias("diff"), c["i"].alias("nw"), c["j"].alias("nh")),
        ).otherwise(acc)

    folded = F.aggregate(
        cands,
        F.struct(
            F.lit(float("inf")).alias("diff"),
            F.lit(1).alias("nw"),
            F.lit(1).alias("nh"),
        ),
        step,
    )
    bypass = (width <= cfg.image_size) & (height <= cfg.image_size)
    if not cfg.crop_mode:
        bypass = F.lit(True)
    return F.when(
        bypass, F.struct(F.lit(1).alias("nw"), F.lit(1).alias("nh"))
    ).otherwise(F.struct(folded["nw"].alias("nw"), folded["nh"].alias("nh")))


def vision_tokens_col(
    nw: Column, nh: Column, base_size: int = BASE_SIZE, image_size: int = IMAGE_SIZE
) -> Column:
    """O-13 as a pure column expression (vllm/deepseek_ocr.py:95-106)."""
    hg = grid_side(base_size)
    h2 = grid_side(image_size)
    global_tokens = F.lit(hg * (hg + 1))
    local_tokens = F.when(
        (nw > 1) | (nh > 1), (nh * F.lit(h2)) * (nw * F.lit(h2) + 1)
    ).otherwise(F.lit(0))
    return (global_tokens + local_tokens + 1).cast("bigint")


def tile_plan_sql(
    pages_sql: str,
    key_cols: list[str],
    width_expr: str = "width",
    height_expr: str = "height",
    image_size: int = IMAGE_SIZE,
) -> str:
    """DuckDB-oracle SQL mirroring ``with_tile_plan`` over ``pages_sql``
    (a subquery producing key + width + height columns)."""
    keys = ", ".join(key_cols)
    return f"""
WITH pages AS ({pages_sql}),
scored AS (
  SELECT p.*, c.pos, c.i, c.j,
         abs(CAST({width_expr} AS DOUBLE)/{height_expr} - CAST(c.i AS DOUBLE)/c.j) AS diff,
         ({width_expr} * {height_expr} > 0.5 * {image_size} * {image_size} * c.i * c.j) AS area_cond
  FROM pages p CROSS JOIN {candidates_sql_values()}
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY {keys}
      ORDER BY diff ASC, area_cond DESC,
               CASE WHEN area_cond THEN -pos ELSE pos END ASC) AS rn
  FROM scored
)
SELECT {keys}, {width_expr} AS width, {height_expr} AS height,
       CASE WHEN {width_expr} <= {image_size} AND {height_expr} <= {image_size}
            THEN 1 ELSE i END AS nw,
       CASE WHEN {width_expr} <= {image_size} AND {height_expr} <= {image_size}
            THEN 1 ELSE j END AS nh
FROM ranked WHERE rn = 1
"""


def token_splice_segments(
    planned: DataFrame,
    key_cols: list[str],
    base_size: int = BASE_SIZE,
    image_size: int = IMAGE_SIZE,
) -> DataFrame:
    """O-16 (image-token splice) as an ORDERED relational segment table.

    Reproduces the exact token-sequence layout tokenize_with_images builds
    per image (reference image_process.py:424-436): nqb repetitions of
    (nqb global-grid tokens + 1 newline token), then 1 view-separator
    token, then — tiled pages only — nq*nh repetitions of (nq*nw local
    tokens + 1 newline). Every one of these positions is image_token_id in
    the reference; the KIND column records which embedding row the decoder
    fill assigns there. (Reference quirk, deepseek_ocr.py:438: the feature
    FILL order is local-before-global even though the token LAYOUT is
    global-before-local — position semantics follow the layout, which is
    what this table models.)

    seg_ix arithmetic instead of an ordered explode: segment kind and
    length are CASE expressions of seg_ix, so both engines emit identical
    rows without order-sensitive generation. sum(n_tokens) per page ==
    vision_tokens_col by construction (pinned in tests).
    """
    hg = grid_side(base_size)
    h2 = grid_side(image_size)
    nw, nh = F.col("nw"), F.col("nh")
    tiled = (nw > 1) | (nh > 1)
    n_segs = F.lit(2 * hg + 1) + F.when(tiled, 2 * h2 * nh).otherwise(F.lit(0))
    segs = planned.select(
        *key_cols, "nw",
        F.explode(F.sequence(F.lit(0), n_segs - 1)).alias("seg_ix"),
    )
    s = F.col("seg_ix")
    local_s = s - F.lit(2 * hg + 1)
    kind = (
        F.when(s < 2 * hg, F.when(s % 2 == 0, "global_row").otherwise("newline"))
        .when(s == 2 * hg, "view_sep")
        .otherwise(F.when(local_s % 2 == 0, "local_row").otherwise("newline"))
    )
    n_tokens = (
        F.when(s < 2 * hg, F.when(s % 2 == 0, F.lit(hg)).otherwise(F.lit(1)))
        .when(s == 2 * hg, F.lit(1))
        .otherwise(
            F.when(local_s % 2 == 0, F.col("nw") * h2).otherwise(F.lit(1))
        )
    )
    return segs.select(
        *key_cols,
        F.col("seg_ix").cast("int").alias("seg_ix"),
        kind.alias("kind"),
        n_tokens.cast("int").alias("n_tokens"),
    )


def token_splice_segments_sql(
    pages_sql: str,
    key_cols: list[str],
    base_size: int = BASE_SIZE,
    image_size: int = IMAGE_SIZE,
) -> str:
    hg = grid_side(base_size)
    h2 = grid_side(image_size)
    keys = ", ".join(key_cols)
    return f"""
WITH planned AS ({tile_plan_sql(pages_sql, key_cols, image_size=image_size)}),
segs AS (
  SELECT {keys}, nw,
         unnest(range({2 * hg + 1}
                      + CASE WHEN nw > 1 OR nh > 1
                             THEN {2 * h2} * nh ELSE 0 END)) AS seg_ix
  FROM planned
)
SELECT {keys}, CAST(seg_ix AS INT) AS seg_ix,
       CASE WHEN seg_ix < {2 * hg} THEN
              CASE WHEN seg_ix % 2 = 0 THEN 'global_row' ELSE 'newline' END
            WHEN seg_ix = {2 * hg} THEN 'view_sep'
            ELSE CASE WHEN (seg_ix - {2 * hg + 1}) % 2 = 0
                      THEN 'local_row' ELSE 'newline' END
       END AS kind,
       CAST(CASE WHEN seg_ix < {2 * hg} THEN
              CASE WHEN seg_ix % 2 = 0 THEN {hg} ELSE 1 END
            WHEN seg_ix = {2 * hg} THEN 1
            ELSE CASE WHEN (seg_ix - {2 * hg + 1}) % 2 = 0
                      THEN nw * {h2} ELSE 1 END
       END AS INT) AS n_tokens
FROM segs
"""
