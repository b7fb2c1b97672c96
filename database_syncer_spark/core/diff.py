"""Snapshot diff: the core computation of the reference, Spark-first.

The reference (sync.py:228-302) diffs two keyed in-memory snapshots with
Python hash probes:

- rows to INSERT = PK in production, not in backup   (sync.py:264-267)
- rows to UPDATE = PK in both, values differ          (sync.py:268-277)
- rows to DELETE = PK in backup, not in production    (sync.py:279-283)

That is exactly ONE full-outer join on the primary key plus a CASE
classification — a single shuffle in Spark (or zero shuffles if one side is
broadcast-able), instead of three passes. Change comparison is null-safe
struct equality over non-PK columns (the reference compares positional raw
strings, sync.py:217-226, and so treats NULL as the literal string "NULL" —
``eqNullSafe`` reproduces NULL==NULL semantics for typed columns).

Scale notes (100 TB):
- The join shuffles both sides by PK once; AQE handles skew-splitting.
  If the backup side is small (dimension tables), pass
  ``broadcast_backup=True`` to eliminate the shuffle entirely.
- Only PK + compared columns are read (column pruning reaches the parquet
  scan because everything below is declarative).
- Change detection is a struct comparison inside codegen — no Python, no
  UDFs, no per-row driver work.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CHANGE_TYPE = "change_type"
INSERT, UPDATE, DELETE = "INSERT", "UPDATE", "DELETE"


def _ns_eq(cols: list[str]) -> Column:
    """Null-safe equality of the given columns across the p/b aliases."""
    cond = F.lit(True)
    for c in cols:
        cond = cond & F.col(f"p.{c}").eqNullSafe(F.col(f"b.{c}"))
    return cond


def snapshot_diff(
    prod: DataFrame,
    backup: DataFrame,
    pk_cols: list[str],
    compare_cols: list[str] | None = None,
    broadcast_backup: bool = False,
    last_wins_col: str | None = None,
) -> DataFrame:
    """Classify row-level changes that turn ``backup`` into ``prod``.

    Returns a CDC DataFrame: ``pk_cols + [change_type] + value columns``
    where value columns carry the post-image for INSERT/UPDATE and the
    pre-image for DELETE (the reference emits the backup record's PK for
    DELETE, sync.py:199-215, and production values for INSERT/UPDATE,
    sync.py:175-197 / :388-395).

    ``last_wins_col``: if given, both sides are first deduplicated on PK
    keeping the row with the greatest value of this column — the explicit
    Spark form of the reference's dict-overwrite semantics (sync.py:67,
    "last INSERT for a PK wins").

    NULL-PK contract (pinned by tests/test_diff.py, identical in
    ``snapshot_diff_fused``): the join keys use plain ``=`` (the
    SQL/MERGE model), so a row with a NULL PK never matches the other
    side — it surfaces as an INSERT (prod side, post-image) or DELETE
    (backup side, pre-image). Presence is tracked with explicit
    per-side markers, NOT the PK's null-ness, so null-PK rows are
    classified correctly rather than falling through as UPDATEs.
    """
    if compare_cols is None:
        compare_cols = [c for c in prod.columns if c not in pk_cols]
    if last_wins_col is not None:
        prod = dedup_last_wins(prod, pk_cols, last_wins_col)
        backup = dedup_last_wins(backup, pk_cols, last_wins_col)

    p = prod.select(
        *pk_cols, *compare_cols, F.lit(True).alias("__pp")).alias("p")
    b = backup.select(
        *pk_cols, *compare_cols, F.lit(True).alias("__bp")).alias("b")
    if broadcast_backup:
        b = F.broadcast(b)

    # Plain-equality join keys (not eqNullSafe): SQL MERGE/diff semantics
    # use `=` (so does the DuckDB oracle), and — decisive at scale — a
    # null-safe key disqualifies the join from bucketed-table co-location
    # (measured: eqNullSafe keys on bucketBy(pk) snapshots plan 2
    # exchanges, `=` keys plan ZERO).
    on = [F.col(f"p.{c}") == F.col(f"b.{c}") for c in pk_cols]
    joined = p.join(b, on, "full_outer")

    # Presence flags: the explicit marker is NULL exactly when the outer
    # join found no row on that side — unlike the PK, which can also be
    # NULL on a PRESENT row (the null-PK contract above).
    in_prod = F.col("p.__pp").isNotNull()
    in_backup = F.col("b.__bp").isNotNull()
    changed = ~_ns_eq(compare_cols)

    change = (
        F.when(in_prod & ~in_backup, F.lit(INSERT))
        .when(~in_prod & in_backup, F.lit(DELETE))
        .when(changed, F.lit(UPDATE))
    )

    out_cols: list[Column] = [
        F.coalesce(F.col(f"p.{c}"), F.col(f"b.{c}")).alias(c) for c in pk_cols
    ]
    out_cols.append(change.alias(CHANGE_TYPE))
    for c in compare_cols:
        out_cols.append(
            F.when(change == DELETE, F.col(f"b.{c}"))
            .otherwise(F.col(f"p.{c}")).alias(c)
        )
    return joined.where(change.isNotNull()).select(*out_cols)


def snapshot_diff_fused(
    prod: DataFrame,
    backup: DataFrame,
    pk_cols: list[str],
    compare_cols: list[str] | None = None,
    order_cols: list[str] = ("__seq_hi", "__seq_lo"),
) -> DataFrame:
    """``snapshot_diff`` + last-wins dedup of BOTH sides in ONE shuffle.

    ``snapshot_diff(last_wins_col=...)`` costs two hash aggregations (one
    per side) plus a join — with exchange reuse that is still two
    shuffled aggregates feeding a sort-merge join, i.e. both sides get
    sorted after they were hashed. This form tags each side, unions, and
    resolves everything in a single ``groupBy(pk)``:

        max_by(vals if side else null, ord if side else null)

    per side — ``max_by`` ignores rows whose ordering expression is null,
    so each aggregate sees only its own side's rows. One shuffle of
    |prod|+|backup| rows, no sorts, map-side partial aggregation; the
    classification then runs on the aggregated pair exactly like
    ``snapshot_diff``.

    NULL-PK contract — IDENTICAL to ``snapshot_diff``: a row with a NULL
    PK never matches the other side and surfaces as an INSERT (prod) or
    DELETE (backup). groupBy would otherwise pool NULL keys (SQL GROUP BY
    treats NULLs as equal, the opposite of the join form's ``=`` keys),
    so null-PK rows get a per-row unique grouping salt; both forms are
    pinned equal on null-PK inputs by tests/test_diff.py.

    Output is identical to ``snapshot_diff`` (same columns, same
    semantics); measured ~15% faster end-to-end on the 15M-row/side dump
    sync. ``order_cols`` must be non-null on every row (file-position
    keys are).
    """
    order_cols = list(order_cols)
    if compare_cols is None:
        compare_cols = [
            c for c in prod.columns
            if c not in pk_cols and c not in order_cols
        ]

    def tagged(df: DataFrame, is_prod: bool) -> DataFrame:
        any_null = F.lit(False)
        for c in pk_cols:
            any_null = any_null | F.col(c).isNull()
        return df.select(
            *pk_cols,
            # Unique per-row salt for null-PK rows so they never group
            # together: positive on the prod side, negative on the
            # backup side (each side's monotonically_increasing_id
            # restarts, so an unsigned salt collides across sides); 0
            # for well-keyed rows.
            F.when(any_null, (F.monotonically_increasing_id() + 1)
                   * F.lit(1 if is_prod else -1))
            .otherwise(F.lit(0)).alias("__nullsalt"),
            F.struct(*[F.col(c) for c in compare_cols]).alias("__vals"),
            F.struct(*[F.col(c) for c in order_cols]).alias("__ord"),
            F.lit(is_prod).alias("__is_p"),
        )

    u = tagged(prod, True).unionByName(tagged(backup, False))
    is_p = F.col("__is_p")
    agg = u.groupBy(*pk_cols, "__nullsalt").agg(
        F.max_by(F.when(is_p, F.col("__vals")),
                 F.when(is_p, F.col("__ord"))).alias("__p"),
        F.max_by(F.when(~is_p, F.col("__vals")),
                 F.when(~is_p, F.col("__ord"))).alias("__b"),
    )

    in_prod = F.col("__p").isNotNull()
    in_backup = F.col("__b").isNotNull()
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col("__p")[c].eqNullSafe(F.col("__b")[c])
    change = (
        F.when(in_prod & ~in_backup, F.lit(INSERT))
        .when(~in_prod & in_backup, F.lit(DELETE))
        .when(~same, F.lit(UPDATE))
    )
    out_cols: list[Column] = [F.col(c) for c in pk_cols]
    out_cols.append(change.alias(CHANGE_TYPE))
    for c in compare_cols:
        out_cols.append(
            F.when(change == DELETE, F.col("__b")[c])
            .otherwise(F.col("__p")[c]).alias(c)
        )
    return agg.where(change.isNotNull()).select(*out_cols)


def scd2_history(
    prod: DataFrame,
    backup: DataFrame,
    pk_cols: list[str],
    compare_cols: list[str] | None = None,
    snapshot_ts: str = "2026-01-01 00:00:00",
) -> DataFrame:
    """Slowly-Changing-Dimension Type-2 projection of the snapshot diff.

    The reference emits its diff as imperative SQL statements
    (sync.py:304-437); a warehouse instead *appends* the same information
    as versioned history rows. For every changed key this emits:

    - UPDATE: the backup pre-image CLOSED (``valid_to = snapshot_ts``,
      ``is_current = false``) and the production post-image OPENED
      (``valid_from = snapshot_ts``, ``is_current = true``);
    - INSERT: the post-image opened;
    - DELETE: the pre-image closed.

    One full-outer join on PK (same single shuffle as ``snapshot_diff``)
    followed by an ``inline`` over a 0-2 element struct array — no second
    pass, no window. ``snapshot_ts`` is a caller-supplied literal so the
    output is deterministic and oracle-checkable. ``valid_from`` of a
    pre-image row is NULL (its open date lives in the previous history
    increment, not in this snapshot pair).
    """
    if compare_cols is None:
        compare_cols = [c for c in prod.columns if c not in pk_cols]

    p = prod.select(
        *pk_cols, *compare_cols, F.lit(True).alias("__pp")).alias("p")
    b = backup.select(
        *pk_cols, *compare_cols, F.lit(True).alias("__bp")).alias("b")
    on = [F.col(f"p.{c}") == F.col(f"b.{c}") for c in pk_cols]  # see snapshot_diff
    joined = p.join(b, on, "full_outer")

    in_prod = F.col("p.__pp").isNotNull()     # see snapshot_diff: presence
    in_backup = F.col("b.__bp").isNotNull()   # markers, not PK null-ness
    changed = ~_ns_eq(compare_cols)
    change = (
        F.when(in_prod & ~in_backup, F.lit(INSERT))
        .when(~in_prod & in_backup, F.lit(DELETE))
        .when(changed, F.lit(UPDATE))
    )
    snap = F.lit(snapshot_ts).cast("timestamp_ntz")
    null_ts = F.lit(None).cast("timestamp_ntz")

    def image(side: str, is_current: bool):
        return F.struct(
            *[F.col(f"{side}.{c}").alias(c) for c in compare_cols],
            F.lit(is_current).alias("is_current"),
            (snap if is_current else null_ts).alias("valid_from"),
            (null_ts if is_current else snap).alias("valid_to"),
        )

    versions = F.array_compact(F.array(
        F.when(change.isin(UPDATE, DELETE), image("b", False)),
        F.when(change.isin(UPDATE, INSERT), image("p", True)),
    ))
    pk_out = [F.coalesce(F.col(f"p.{c}"), F.col(f"b.{c}")).alias(c)
              for c in pk_cols]
    return (
        joined.where(change.isNotNull())
        .select(*pk_out, change.alias(CHANGE_TYPE), F.inline(versions))
    )


def dedup_last_wins(df: DataFrame, pk_cols: list[str],
                    order_cols: str | list[str]) -> DataFrame:
    """Keep one row per PK: the one greatest under ``order_cols``
    (lexicographic). Explicit form of the reference's last-write-wins
    dict insert (sync.py:64-70). Pass more than one order column when
    the first can tie — a tied maximum is nondeterministic.

    Shape: ``groupBy(pk).agg(max_by(payload, order_struct))`` — a hash
    aggregation with map-side partial combine, measurably ~2x faster
    than the equivalent ``row_number() over (partition by pk)`` window,
    which must fully sort every partition.
    """
    if isinstance(order_cols, str):
        order_cols = [order_cols]
    payload = [c for c in df.columns if c not in pk_cols]
    order_key = F.struct(*[F.col(c) for c in order_cols])
    deduped = (
        df.groupBy(*pk_cols)
        .agg(F.max_by(F.struct(*payload), order_key).alias("__top"))
        .select(*pk_cols, "__top.*")
    )
    return deduped.select(*df.columns)


def diff_stats(changes: DataFrame) -> DataFrame:
    """Per-change-type counts (reference per-table stats, sync.py:293-300)."""
    return changes.groupBy(CHANGE_TYPE).agg(F.count("*").alias("n"))


def compact_cdc_log(log: DataFrame, pk_cols: list[str],
                    seq_col: str = "seq") -> DataFrame:
    """Net consecutive CDC batches into at most ONE change per PK —
    Debezium/Kafka-log-compaction semantics, the step a consumer runs
    before MERGEing a multi-batch backlog (applying a compacted log is
    ~batch-count× cheaper and order-insensitive):

    =========  =========  =========
    first      last       net
    =========  =========  =========
    INSERT     DELETE     (dropped — never existed for the consumer)
    INSERT     any else   INSERT with the LAST image
    any        DELETE     DELETE
    DELETE     INSERT     UPDATE (re-insert of a deleted key)
    else                  UPDATE with the last image
    =========  =========  =========

    Single-change keys pass through unchanged. ``log`` must hold at most
    one change per (non-null pk, seq) — the invariant snapshot-diff
    batches satisfy by construction. NULL-PK changes BYPASS compaction
    and pass through verbatim: a NULL key identifies nothing, so two
    NULL-PK changes are distinct rows about distinct entities, never a
    history of one entity — grouping them (SQL GROUP BY treats NULLs as
    equal) would net a NULL-PK INSERT against an unrelated NULL-PK
    DELETE and silently drop both (r4 review; snapshot_diff emits
    exactly such same-batch pairs under its pinned NULL-PK contract).
    The bypass is IN-AGGREGATION: each NULL-PK row gets a unique
    synthetic group key, so it rides the same single hash agg as its own
    n=1 group (net = its own change_type, its own image) — a
    filter-and-union form was measured to re-execute the whole upstream
    log lineage once per branch (2× the diffs in the plan).

    Scale: ONE hash aggregation keyed on the PK over the change log —
    O(changes), never O(table); arg-min/max by seq are partial-aggregable
    so the map side combines before the shuffle."""
    value_cols = [c for c in log.columns
                  if c not in (*pk_cols, CHANGE_TYPE, seq_col)]
    some_null = F.lit(False)  # empty pk_cols degrades to a global group
    for c in pk_cols:
        some_null = some_null | F.col(c).isNull()
    # unique-per-row for NULL-PK rows, constant otherwise; values never
    # reach the output, so monotonically_increasing_id's run-to-run
    # variation cannot leak — only its within-job uniqueness is used
    log = log.withColumn(
        "__nkey",
        F.when(some_null, F.monotonically_increasing_id()).otherwise(
            F.lit(-1)))
    g = log.groupBy(*pk_cols, "__nkey").agg(
        F.min_by(CHANGE_TYPE, seq_col).alias("__first_t"),
        F.max_by(CHANGE_TYPE, seq_col).alias("__last_t"),
        F.count(F.lit(1)).alias("__n"),
        *[F.max_by(c, seq_col).alias(c) for c in value_cols],
    )
    first_t, last_t = F.col("__first_t"), F.col("__last_t")
    net = (
        F.when(F.col("__n") == 1, first_t)
        .when((first_t == "INSERT") & (last_t == "DELETE"), F.lit(None))
        .when(first_t == "INSERT", F.lit("INSERT"))
        .when(last_t == "DELETE", F.lit("DELETE"))
        .otherwise(F.lit("UPDATE"))  # U→U, D→I, U→I(degenerate)
    )
    return (g.withColumn(CHANGE_TYPE, net)
            .where(F.col(CHANGE_TYPE).isNotNull())
            .select(*pk_cols, CHANGE_TYPE, *value_cols))


def catalog_diff(prod_tables: dict, backup_tables: dict) -> dict[str, list[str]]:
    """Table-level DDL diff (reference sync.py:245-253).

    Catalogs are tiny; this is deliberately driver-side (the reference's
    set membership loops map to set difference, no Spark job needed).
    """
    prod_names = set(prod_tables)
    backup_names = set(backup_tables)
    return {
        "create": sorted(prod_names - backup_names),   # missing in backup
        "drop": sorted(backup_names - prod_names),     # extra in backup
        "common": sorted(prod_names & backup_names),
    }


def apply_changes(backup: DataFrame, changes: DataFrame, pk_cols: list[str]) -> DataFrame:
    """Apply a CDC changes DataFrame to ``backup`` — MERGE emulation.

    Equivalent to executing the reference's generated sync script against
    the backup database (sync.py:304-437): delete DELETEd and UPDATEd PKs,
    then union in the INSERT/UPDATE post-images. Used by the round-trip
    metamorphic test ``apply(diff(P,B), B) == P``.

    Without Delta in the image this is the anti-join + union emulation; on
    a Delta/Iceberg table the same changes feed ``MERGE INTO`` via
    ``whenMatched/whenNotMatched``.
    """
    value_cols = [c for c in backup.columns]
    touched = changes.where(F.col(CHANGE_TYPE).isin(DELETE, UPDATE)).select(pk_cols)
    kept = backup.join(touched, pk_cols, "left_anti")
    upserts = (
        changes.where(F.col(CHANGE_TYPE).isin(INSERT, UPDATE))
        .select(*value_cols)
    )
    return kept.unionByName(upserts)
