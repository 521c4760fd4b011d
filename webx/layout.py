"""Data-layout keys — Z-order (Morton) interleaving for multi-dim file
clustering.

At 100 TB the scan you never do is the cheapest operator: engines skip
parquet files whose min/max stats exclude the predicate, and min/max
stats are only tight when rows with nearby values are physically
together. Sorting by one column makes ONE predicate skippable; Z-order
interleaves the bits of two columns so files are tight on BOTH — the
``OPTIMIZE … ZORDER BY`` of Delta/Iceberg, implemented here as a plain
deterministic column + ``repartitionByRange`` so it works on any sink.

``zorder_key`` avoids left-shifting data bits entirely: each input bit
is extracted with a right-shift and multiplied by a literal power of
two — no sign-bit or overflow edge in either Spark or the DuckDB
oracle, bit-identical across engines. Inputs are clamped to
``bits`` ≤ 31 low bits (62-bit result in a signed 64-bit long).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def zorder_key(a, b, bits: int = 31) -> Column:
    """Morton interleave of the low ``bits`` bits of integer columns
    ``a`` (even positions) and ``b`` (odd positions) → non-negative
    BIGINT. Values are masked to ``bits`` first (callers bucket/scale
    wider domains down; rank-based normalization is the production
    recipe for arbitrary distributions)."""
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in 1..31")
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    mask = (1 << bits) - 1
    a = a.cast("long").bitwiseAND(F.lit(mask))
    b = b.cast("long").bitwiseAND(F.lit(mask))
    terms = []
    for i in range(bits):
        bit_a = F.shiftright(a, i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(b, i).bitwiseAND(F.lit(1))
        terms.append(bit_a * F.lit(1 << (2 * i)))
        terms.append(bit_b * F.lit(1 << (2 * i + 1)))
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z


def zorder_key_sql(a_expr: str, b_expr: str, bits: int = 31) -> str:
    """DuckDB mirror of :func:`zorder_key` — identical extract-and-
    multiply arithmetic, so the oracle recomputes keys bit-for-bit."""
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in 1..31")
    mask = (1 << bits) - 1
    a = f"(CAST({a_expr} AS BIGINT) & {mask})"
    b = f"(CAST({b_expr} AS BIGINT) & {mask})"
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) * {1 << (2 * i)})")
        terms.append(f"((({b} >> {i}) & 1) * {1 << (2 * i + 1)})")
    return "(" + " + ".join(terms) + ")"


def hilbert_ref(order: int, x: int, y: int) -> int:
    """Reference Hilbert index (pure Python): consume one bit level per
    step MSB-first; emit the quadrant digit (3·rx)⊕ry; mask the
    consumed bit away and rotate/reflect the REMAINING subsquare so
    coordinates provably stay in [0, s) — the overflow-free restatement
    of the classic xy2d loop. Bijectivity + unit-step adjacency (what
    makes it a Hilbert curve) are tested exhaustively in
    tests/test_hilbert.py."""
    d = 0
    for lvl in range(order - 1, -1, -1):
        s = 1 << lvl
        rx = (x >> lvl) & 1
        ry = (y >> lvl) & 1
        d += s * s * ((3 * rx) ^ ry)
        x &= s - 1
        y &= s - 1
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
    return d


def with_hilbert_key(
    df: DataFrame, a, b, bits: int = 16, out_col: str = "hval"
) -> DataFrame:
    """Hilbert-curve layout key over the low ``bits`` bits of two
    integer columns — Z-order's better-locality sibling: consecutive
    Hilbert indices are always GRID-ADJACENT cells (Morton order jumps
    across the plane at every power-of-two boundary), so range
    predicates on either dimension touch fewer distinct key ranges and
    file min/max stats come out tighter for the same file count. The
    trade: no closed-form per-bit interleave — the index is a 4-state
    automaton over bit pairs, so each level's (x, y, d) is materialized
    as a projected column (16 narrow codegen steps, zero shuffle;
    a single nested expression would double per level). Integer
    CASE/mask/shift arithmetic only ⇒ the DuckDB oracle
    (:func:`hilbert_key_sql`) replays it exactly. Feed to
    ``repartitionByRange`` + ``sortWithinPartitions`` exactly like
    :func:`cluster_by_zorder`."""
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in 1..31")
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    mask = (1 << bits) - 1
    out = df.withColumn("_hx", a.cast("long").bitwiseAND(F.lit(mask)))
    out = out.withColumn("_hy", b.cast("long").bitwiseAND(F.lit(mask)))
    out = out.withColumn("_hd", F.lit(0).cast("long"))
    for lvl in range(bits - 1, -1, -1):
        s = 1 << lvl
        m = s - 1
        rx = F.shiftright(F.col("_hx"), lvl).bitwiseAND(F.lit(1))
        ry = F.shiftright(F.col("_hy"), lvl).bitwiseAND(F.lit(1))
        digit = F.lit(3) * rx + ry - F.lit(2) * rx * ry  # (3·rx)⊕ry
        xm = F.col("_hx").bitwiseAND(F.lit(m))
        ym = F.col("_hy").bitwiseAND(F.lit(m))
        nx = (
            F.when(ry == 1, xm)
            .when(rx == 1, F.lit(m) - ym)
            .otherwise(ym)
        )
        ny = (
            F.when(ry == 1, ym)
            .when(rx == 1, F.lit(m) - xm)
            .otherwise(xm)
        )
        out = (
            out.withColumn("_hd2", F.col("_hd") + F.lit(s * s) * digit)
            .withColumn("_hx2", nx)
            .withColumn("_hy2", ny)
            .drop("_hx", "_hy", "_hd")
            .withColumnRenamed("_hx2", "_hx")
            .withColumnRenamed("_hy2", "_hy")
            .withColumnRenamed("_hd2", "_hd")
        )
    return out.withColumnRenamed("_hd", out_col).drop("_hx", "_hy")


def hilbert_key_sql(
    src_sql: str, a_expr: str, b_expr: str, bits: int = 16, keep: str = "*"
) -> str:
    """DuckDB mirror of :func:`with_hilbert_key`: the same per-level
    (x, y, d) state as nested-subquery columns (the oracle _chain
    discipline), identical integer CASE/mask/shift arithmetic."""
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in 1..31")
    mask = (1 << bits) - 1
    q = (
        f"SELECT *, (CAST({a_expr} AS BIGINT) & {mask}) AS hx, "
        f"(CAST({b_expr} AS BIGINT) & {mask}) AS hy, "
        f"CAST(0 AS BIGINT) AS hd FROM ({src_sql})"
    )
    for lvl in range(bits - 1, -1, -1):
        s = 1 << lvl
        m = s - 1
        rx = f"((hx >> {lvl}) & 1)"
        ry = f"((hy >> {lvl}) & 1)"
        digit = f"(3 * {rx} + {ry} - 2 * {rx} * {ry})"
        xm, ym = f"(hx & {m})", f"(hy & {m})"
        nx = (
            f"CASE WHEN {ry} = 1 THEN {xm} "
            f"WHEN {rx} = 1 THEN {m} - {ym} ELSE {ym} END"
        )
        ny = (
            f"CASE WHEN {ry} = 1 THEN {ym} "
            f"WHEN {rx} = 1 THEN {m} - {xm} ELSE {xm} END"
        )
        q = (
            f"SELECT * EXCLUDE (hx, hy, hd), "
            f"{nx} AS hx, {ny} AS hy, "
            f"hd + {s * s} * {digit} AS hd FROM ({q})"
        )
    return f"SELECT {keep}, hd AS hval FROM ({q})"


def cluster_by_zorder(
    df: DataFrame,
    a: str,
    b: str,
    num_files: int,
    bits: int = 31,
    key_col: str = "_zorder",
) -> DataFrame:
    """Physically cluster ``df`` for a multi-dim-filterable layout:
    range-partition on the Morton key into ``num_files`` buckets and
    sort within each — one range exchange (sampled boundaries), then
    each output file's min/max stats are tight on BOTH ``a`` and ``b``.
    Write the result with any file sink; drop ``key_col`` afterwards if
    the key itself is not wanted."""
    keyed = df.withColumn(key_col, zorder_key(a, b, bits))
    return keyed.repartitionByRange(num_files, key_col).sortWithinPartitions(
        key_col
    )


def pruning_report(path: str, column: str, lo, hi) -> dict:
    """Measure data-skipping potential from REAL parquet footers: for a
    predicate ``column BETWEEN lo AND hi``, a file whose [min, max]
    stats exclude the range is never opened by the scan. Returns
    {n_files, n_skipped, skip_fraction}. This is the observable the
    layout operators exist to move: after ``cluster_by_zorder`` /
    sort-on-write, skip_fraction for selective predicates approaches
    (1 − selectivity); a hash-scattered layout pins it at 0 because
    every file spans the whole domain. Files without stats count as
    unskippable (the engines' conservative behavior)."""
    import os

    import pyarrow.parquet as pq

    files = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    ]
    n_skipped = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = None
        for i in range(md.num_columns):
            if md.schema.column(i).name == column:
                idx = i
                break
        if idx is None:
            raise ValueError(f"column {column!r} not in {f}")
        fmin = fmax = None
        have = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                have = False
                break
            fmin = st.min if fmin is None else min(fmin, st.min)
            fmax = st.max if fmax is None else max(fmax, st.max)
        if have and fmin is not None and (fmax < lo or fmin > hi):
            n_skipped += 1
    return {
        "n_files": len(files),
        "n_skipped": n_skipped,
        "skip_fraction": (n_skipped / len(files)) if files else 0.0,
    }


def zonemap_skip_stats(
    df: DataFrame,
    x_col: str,
    y_col: str,
    layouts: "dict[str, list]",
    capacity: int,
    x_range: "tuple[int, int]",
    y_range: "tuple[int, int]",
) -> DataFrame:
    """Declarative zone-map skipping estimator — the measurement that
    justifies a layout key BEFORE rewriting 100 TB. For each named
    layout (an ordering-column list), rows are ranked and packed into
    files of ``capacity`` rows, each file gets a (min, max) zone map on
    ``x_col``/``y_col``, and a 2-D range predicate counts the files it
    cannot skip → one row per layout:

        (layout, n_files, files_read, rows_read, rows_match)

    ``rows_match`` (the exact predicate hit count, identical across
    layouts) calibrates the readings: a perfect layout reads
    ``ceil(rows_match / capacity)`` files; a hash-scattered one reads
    all of them. All arithmetic is integer ⇒ full DuckDB oracle.

    The per-layout rank is a GLOBAL row_number (single-partition
    window) — this is a layout *simulation* for estimation at
    dimension/sample scale; the production write path is
    ``cluster_by_zorder`` (repartitionByRange + sortWithinPartitions),
    which realizes the same packing distributedly. Run the estimator on
    a deterministic sample of a 10^12-row table, not the table."""
    from pyspark.sql import Window

    xlo, xhi = x_range
    ylo, yhi = y_range
    hit = (
        (F.col("x") >= xlo) & (F.col("x") <= xhi)
        & (F.col("y") >= ylo) & (F.col("y") <= yhi)
    )
    ranked = None
    for name, keys in layouts.items():
        w = Window.orderBy(*keys)
        part = df.select(
            F.lit(name).alias("layout"),
            F.col(x_col).alias("x"),
            F.col(y_col).alias("y"),
            ((F.row_number().over(w) - 1) / F.lit(capacity))
            .cast("long")
            .alias("file_id"),
        )
        ranked = part if ranked is None else ranked.unionByName(part)
    zones = ranked.groupBy("layout", "file_id").agg(
        F.min("x").alias("zxlo"),
        F.max("x").alias("zxhi"),
        F.min("y").alias("zylo"),
        F.max("y").alias("zyhi"),
        F.count("*").alias("nrows"),
        F.sum(hit.cast("long")).alias("nhit"),
    )
    overlap = (
        (F.col("zxhi") >= xlo) & (F.col("zxlo") <= xhi)
        & (F.col("zyhi") >= ylo) & (F.col("zylo") <= yhi)
    )
    return zones.groupBy("layout").agg(
        F.count("*").alias("n_files"),
        F.sum(overlap.cast("long")).alias("files_read"),
        F.sum(F.when(overlap, F.col("nrows")).otherwise(F.lit(0))).alias("rows_read"),
        F.sum("nhit").alias("rows_match"),
    )
