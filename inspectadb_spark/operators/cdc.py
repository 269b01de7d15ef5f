"""CDC composite operators (SURVEY.md §2.2j — the reference product's core).

``apply_changelog`` folds a Debezium-style change log (op ∈ {c,u,d}, a total
order column such as an LSN) into current state; ``scd2_history`` derives
slowly-changing-dimension validity intervals.

Scale notes (100 TB): both operators shuffle once on the key columns (the
window partition). At cluster scale the change log should be bucketed or
range-partitioned by key so repeated applies reuse the layout; the latest-wins
window is an O(n log n_per_key) sort within partitions, and AQE handles skewed
hot keys. For continuous ingestion the same builder runs inside
``foreachBatch`` with ``mergeInto`` against a transactional sink.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(
    changes: DataFrame,
    key_cols: Sequence[str],
    order_col: str = "lsn",
) -> DataFrame:
    """Per key, the row with the greatest ``order_col`` — *including* delete
    tombstones; a NULL order ranks below every non-NULL one (DESC NULLS
    LAST). Folded over stored state ∪ a change batch it is the one CDC
    apply of ``Engine.apply_changes`` and ``StreamingCdcApply``: the state
    keeps each key's order and its tombstones, so a late lower-order change
    cannot overwrite a newer value or resurrect a deleted key."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_changelog(
    changes: DataFrame,
    key_cols: Sequence[str],
    order_col: str = "lsn",
    op_col: str = "op",
    delete_op: str = "d",
) -> DataFrame:
    """Latest-wins fold of a change log into current state.

    Keeps, per key, the row with the greatest ``order_col``; drops keys whose
    final operation is a delete. Idempotent under re-delivery of any prefix
    (same (key, order) wins deterministically).
    """
    return latest_per_key(changes, key_cols, order_col).filter(
        F.col(op_col) != delete_op
    )


def scd2_history(
    changes: DataFrame,
    key_cols: Sequence[str],
    order_col: str = "lsn",
) -> DataFrame:
    """SCD2 validity intervals: each change version is valid from its own
    ``order_col`` until the next change for the same key (NULL = current)."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).asc())
    return changes.withColumn("valid_from", F.col(order_col)).withColumn(
        "valid_to", F.lead(order_col).over(w)
    )


# -- replication verification (table diff / order-insensitive checksums) ------
#
# A CDC tool's trust primitive: prove source and replica agree, and when
# they don't, locate the damage. ``table_diff`` classifies per-key drift;
# ``table_checksum`` summarizes a table into per-bucket fingerprints so two
# replicas exchange O(buckets) rows instead of the table, then diff only
# the buckets that disagree. Both hash with md5 text arithmetic so a
# non-Spark replica (any engine with md5/substr/strpos) computes the same
# fingerprints — verified against DuckDB in q98/q99.

_NULL_SENTINEL = "<NULL>"


def row_fingerprint(cols: Sequence[str], out: str = "_fp"):
    """md5 over the '|'-joined string forms of ``cols`` (NULL-safe via
    sentinel). Callers must pre-cast floats to exact decimals — raw
    double->string formatting is engine-specific."""
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit(_NULL_SENTINEL)) for c in cols
    ]
    return F.md5(F.concat_ws("|", *parts).cast("binary")).alias(out)


def table_diff(
    before: DataFrame,
    after: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str],
    change_col: str = "change",
) -> DataFrame:
    """Per-key drift classification: insert / update / delete.

    Each side is first projected to (keys, fingerprint), so the full outer
    join shuffles 16-byte hashes instead of full rows — at 100 TB the
    compare width no longer matters. Unchanged keys are dropped before the
    join output ever materializes wide.
    """
    keys = list(key_cols)
    bh = before.select(*keys, row_fingerprint(compare_cols, "_bh"))
    ah = after.select(*keys, row_fingerprint(compare_cols, "_ah"))
    j = bh.join(ah, keys, "full_outer")
    change = (
        F.when(F.col("_bh").isNull(), F.lit("insert"))
        .when(F.col("_ah").isNull(), F.lit("delete"))
        .when(F.col("_bh") != F.col("_ah"), F.lit("update"))
        .otherwise(F.lit("same"))
    )
    return (
        j.withColumn(change_col, change)
        .filter(F.col(change_col) != "same")
        .select(*keys, change_col)
    )


_HEXD = "0123456789abcdef"


def _hex_word(col_name: str, start: int):
    """Integer value of 4 hex chars of column ``col_name`` at 1-based
    ``start`` — nibble-by-nibble strpos arithmetic, portable to any SQL
    dialect (q99's oracle inlines the identical text)."""
    terms = " + ".join(
        f"{16 ** (3 - i)} * (instr('{_HEXD}', substr({col_name}, {start + i}, 1)) - 1)"
        for i in range(4)
    )
    return F.expr(terms)


def table_checksum(
    df: DataFrame,
    key_col: str,
    compare_cols: Sequence[str],
    n_buckets: int = 16,
) -> DataFrame:
    """Order-insensitive per-bucket checksums: rows bucket by key hash-mod,
    and each bucket sums four independent 16-bit words of every row's md5
    fingerprint (+ row count). Sums are commutative, so any partitioning /
    engine / ingestion order yields identical fingerprints; two replicas
    compare n_buckets rows to locate damaged key ranges."""
    fp = df.select(
        F.col(key_col),
        row_fingerprint(compare_cols, "_fp"),
    ).withColumn("bucket", F.pmod(F.col(key_col), F.lit(n_buckets)).cast("int"))
    return (
        fp.groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum(_hex_word("_fp", 1)).alias("w1"),
            F.sum(_hex_word("_fp", 5)).alias("w2"),
            F.sum(_hex_word("_fp", 9)).alias("w3"),
            F.sum(_hex_word("_fp", 13)).alias("w4"),
        )
    )


def merge_apply(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    update_cols: dict[str, "F.Column | str"] | None = None,
    delete_condition=None,
    insert_unmatched: bool = True,
    insert_condition=None,
) -> DataFrame:
    """Batch MERGE INTO semantics as one full-outer join (no v2 table needed).

    Row fate follows SQL MERGE:
    - matched + ``delete_condition``            → dropped
    - matched                                   → ``update_cols`` applied
      (columns not listed keep the target value)
    - source-only (WHEN NOT MATCHED)            → inserted if
      ``insert_unmatched`` and ``insert_condition`` (WHEN NOT MATCHED
      AND <cond> THEN INSERT; a NULL condition row is NOT inserted, same
      3VL rule as the delete arm) — a delete for an absent key must fall
      through silently, not resurrect the tombstone payload as a row
    - target-only (NOT MATCHED BY SOURCE)       → kept unchanged

    Columns are resolved target-first; source must carry the same schema.
    One shuffle on the merge keys (or zero if both sides are bucketed on
    them — see ``scale.bucketed_write``); the per-row fate logic is pure
    projection, so the operator scales exactly like the join itself.
    """
    update_cols = update_cols or {}
    # Alias-qualified names (t.*/s.*) rather than DataFrame indexing: target
    # and source often derive from the SAME DataFrame (snapshot vs extract),
    # where df[col] lineage is ambiguous but alias resolution is not.
    # Presence markers — NOT key-null tests: the join uses eqNullSafe, so a
    # NULL<=>NULL key pair is a legitimate match and key IS NULL cannot
    # distinguish "no partner row" from "partner row with NULL key".
    t = target.withColumn("_t_present", F.lit(True)).alias("t")
    s = source.withColumn("_s_present", F.lit(True)).alias("s")
    tc = lambda c: F.col(f"t.{c}")  # noqa: E731
    sc = lambda c: F.col(f"s.{c}")  # noqa: E731
    cond = [tc(k).eqNullSafe(sc(k)) for k in keys]
    joined = t.join(s, cond, "full_outer")
    matched = tc("_t_present").isNotNull() & sc("_s_present").isNotNull()
    s_only = tc("_t_present").isNull()
    if delete_condition is not None:
        # SQL MERGE: a NULL WHEN-MATCHED-AND condition means NOT deleted (the
        # row falls through to the update) — coalesce so 3VL NULL ≠ delete.
        joined = joined.filter(
            ~(matched & F.coalesce(delete_condition, F.lit(False)))
        )
    if not insert_unmatched:
        joined = joined.filter(~s_only)
    elif insert_condition is not None:
        joined = joined.filter(
            ~(s_only & ~F.coalesce(insert_condition, F.lit(False)))
        )
    out = []
    for c in target.columns:
        upd = update_cols.get(c)
        upd_col = (F.col(upd) if isinstance(upd, str) else upd) if upd is not None else tc(c)
        val = (
            F.when(matched, upd_col)
            .when(s_only, sc(c))
            .otherwise(tc(c))
        )
        out.append(val.alias(c))
    return joined.select(*out)


def join_view_delta(
    r_old: DataFrame,
    s_old: DataFrame,
    dr: DataFrame,
    ds: DataFrame,
    on: list,
) -> DataFrame:
    """Incremental view maintenance for an inner-join view under inserts —
    the classic delta rule Δ(R⋈S) = ΔR⋈S ∪ R⋈ΔS ∪ ΔR⋈ΔS (bag
    semantics). Maintaining a 100 TB join view by re-joining deltas
    against the OLD base sides costs O(|Δ|·match) instead of a full
    recompute; the q180 oracle states the independent spec
    (new-join EXCEPT ALL old-join), so the algebra is hash-verified.

    At scale: the delta sides are small by definition — both joins
    broadcast Δ against the (bucketed) base; ΔR⋈ΔS is delta-sized on both
    sides. Deletes/updates extend the same rule with signed multiplicities
    (the apply_changelog tombstone machinery); inserts-only is the common
    append-log case.
    """
    return (
        dr.join(s_old, on)
        .unionByName(r_old.join(ds, on))
        .unionByName(dr.join(ds, on))
    )


def diff_to_changelog(
    src: DataFrame,
    dst: DataFrame,
    keys: list,
    payload: list,
) -> DataFrame:
    """The repair plan that converges replica ``dst`` to ``src``: a
    minimal changelog of (op, key, payload) rows — 'c' for rows missing
    from dst, 'd' for phantom rows only dst has, 'u' for shared keys
    whose payload differs (NULL-safe comparison). The inverse of
    ``apply_changelog``: applying the output to dst yields src exactly
    (round-trip-tested).

    Shape: ONE full-outer join on the replication key classifies every
    row — src-only keys are 'c', dst-only keys are 'd', shared keys with
    a null-safe payload difference are 'u' (equal rows drop out). The
    r12 form ran the same classification as two anti joins + one inner
    join, which consumed (scanned and shuffled) each side three times;
    the full-outer join reads and shuffles each side once for the same
    output (NULL join keys never match, so they classify as 'c'/'d' on
    both shapes; non-null side markers distinguish "no match" from
    "matched with NULL payload"). Output is diff-sized, not table-sized.
    """
    s = src.select(*keys, F.lit(1).alias("_sm"),
                   *[F.col(c).alias(f"_s_{c}") for c in payload])
    d = dst.select(*keys, F.lit(1).alias("_dm"),
                   *[F.col(c).alias(f"_d_{c}") for c in payload])
    differs = None
    for c in payload:
        ne = ~F.col(f"_s_{c}").eqNullSafe(F.col(f"_d_{c}"))
        differs = ne if differs is None else (differs | ne)
    op = (
        F.when(F.col("_dm").isNull(), F.lit("c"))
        .when(F.col("_sm").isNull(), F.lit("d"))
        .when(differs, F.lit("u"))
    )
    return (
        s.join(d, keys, "full_outer")
        .select(
            op.alias("op"), *keys,
            # 'c'/'u' rows carry the src payload; 'd' rows have no src
            # match, so the outer join already made _s_* NULL for them
            *[F.col(f"_s_{c}").cast(src.schema[c].dataType).alias(c)
              for c in payload],
        )
        .filter(F.col("op").isNotNull())
    )


def lww_merge(
    a: DataFrame,
    b: DataFrame,
    keys: list,
    version_col: str,
    source_col: str = "_replica",
    a_tag: str = "a",
    b_tag: str = "b",
) -> DataFrame:
    """Last-writer-wins reconciliation of two divergent replicas: per key,
    the row with the highest ``version_col`` survives; version ties break
    by replica tag (deterministic — multi-master convergence requires a
    total order). One union + one key-shuffle max_by.
    """
    u = a.withColumn(source_col, F.lit(a_tag)).unionByName(
        b.withColumn(source_col, F.lit(b_tag))
    )
    others = [c for c in u.columns if c not in keys]
    # max_by SKIPS rows whose value argument is NULL, so taking each
    # payload column independently would let a loser's non-NULL value leak
    # into a winner with a NULL field. Packing the whole row into ONE
    # struct (never NULL) keeps the winning row atomic.
    ord_expr = f"struct({version_col}, {source_col})"
    row = "struct(" + ", ".join(others) + ")"
    packed = u.groupBy(*keys).agg(
        F.expr(f"max_by({row}, {ord_expr})").alias("_row")
    )
    return packed.select(*keys, *[F.col(f"_row.{c}").alias(c) for c in others])
