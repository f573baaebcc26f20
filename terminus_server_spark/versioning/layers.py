"""Git-for-data versioning as delta DataFrames (SURVEY §2.4).

Parity: terminusdb-store's immutable layer stack — every commit is an
(adds, removes) delta over its parent; branches are refs to commit
ids; diff/squash/rebase/time-travel are layer algebra (public repo:
terminusdb-store src/layer, terminus-server src/core/api/db_*).

Spark translation: one ``layers`` DataFrame
``(commit_seq, commit_id, op ∈ {add, del}, <entity columns...>)``.
Materialization at a commit is a *window* over the entity key — the
latest op at-or-before the commit decides visibility; at one
commit_seq an add beats a del (``apply_delta`` applies a commit's
deletes before its adds).  A diff needs only the last op at each end,
so it is one keyed aggregate: one scan of the stack, one exchange.
No driver loops; every verb is one or two shuffles and scales with
delta size, not history length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def materialize(layers: DataFrame, at_seq: int, key_cols: list[str]) -> DataFrame:
    """State visible at commit ``at_seq``: for each entity key, the
    newest op with commit_seq <= at_seq; visible iff that op is an
    add (an add wins a tie at one commit_seq).  One window shuffle on
    the entity key."""
    w = Window.partitionBy(*key_cols).orderBy(F.col("commit_seq").desc(), F.col("op"))
    return (
        layers.where(F.col("commit_seq") <= at_seq)
        .withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col("op") == "add"))
        .drop("_rn", "op")
    )


def purge_keys(layers: DataFrame, keys: DataFrame, key_cols: list[str]) -> DataFrame:
    """Right-to-be-forgotten over immutable history: a NEW layer pool
    with every row about the purged entity keys removed — adds AND
    dels, from EVERY commit — so no ref can materialize the purged
    data anymore, while every other entity's state at every ref is
    bit-identical.  Layers themselves stay immutable: this is
    rewrite-and-swap at the pool grain (the reference's erasure story
    is the same history rewrite — deletion alone is not erasure,
    because time-travel still reaches the old layer).  One anti-join,
    scales with |layers|; ``keys`` broadcasts when small (the usual
    GDPR request batch)."""
    return layers.join(keys, key_cols, "left_anti")


def _last_op_rank(at_seq: int):
    """Aggregate input ranking a key's ops up to ``at_seq``: later
    commits rank higher and, at one commit_seq, an add outranks a del
    (``materialize``'s tie-break).  NULL past ``at_seq``, so a max
    over it is the key's last op there: odd = visible, even = deleted,
    NULL = never written."""
    return F.when(
        F.col("commit_seq") <= at_seq,
        F.col("commit_seq").cast("long") * 2 + (F.col("op") == "add").cast("long"),
    )


def _ends(layers: DataFrame, from_seq: int, to_seq: int, key_cols: list[str], *aggs):
    """Per key, its visibility at both ends (``_in_a``/``_in_b``) plus
    ``aggs`` — one scan and one keyed aggregate."""
    g = (
        layers.where(F.col("commit_seq") <= max(from_seq, to_seq))
        .groupBy(*key_cols)
        .agg(
            F.max(_last_op_rank(from_seq)).alias("_a"),
            F.max(_last_op_rank(to_seq)).alias("_b"),
            *aggs,
        )
    )
    return g.select(
        "*",
        F.coalesce(F.col("_a") % 2 == 1, F.lit(False)).alias("_in_a"),
        F.coalesce(F.col("_b") % 2 == 1, F.lit(False)).alias("_in_b"),
    ).where(F.col("_in_a") != F.col("_in_b"))


def diff(layers: DataFrame, from_seq: int, to_seq: int, key_cols: list[str]) -> DataFrame:
    """Triple-level diff between two commits: (op ∈ {added, removed},
    key...).  Equal to the set difference of ``materialize`` at both
    ends, but one scan of the stack and one exchange: a single
    ``groupBy(key)`` takes each key's last op at either end."""
    return _ends(layers, from_seq, to_seq, key_cols).select(
        F.when(F.col("_in_b"), "added").otherwise("removed").alias("op"), *key_cols
    )


def squash(layers: DataFrame, up_to_seq: int, key_cols: list[str], new_commit: str) -> DataFrame:
    """Collapse commits <= up_to_seq into a single add-only layer
    (the reference's squash keeps the net state, dropping history)."""
    state = materialize(layers, up_to_seq, key_cols)
    return state.select(
        F.lit(0).alias("commit_seq"),
        F.lit(new_commit).alias("commit_id"),
        F.lit("add").alias("op"),
        *[c for c in state.columns if c not in ("commit_seq", "commit_id")],
    )


def rebase(
    layers: DataFrame, base_layers: DataFrame, from_seq: int, key_cols: list[str], seq_offset: int = 1000
) -> DataFrame:
    """Replay the deltas after ``from_seq`` on top of another base
    stack (the reference's rebase = linear replay of commits)."""
    replay = layers.where(F.col("commit_seq") > from_seq).withColumn(
        "commit_seq", F.col("commit_seq") + F.lit(seq_offset)
    )
    return base_layers.unionByName(replay)


def history(layers: DataFrame, key_cols: list[str]) -> DataFrame:
    """Per-entity change log summary: (key..., n_ops, first_seq,
    last_seq, last_op) — the reference's commit log projected onto an
    object (api/log)."""
    w = Window.partitionBy(*key_cols).orderBy(F.col("commit_seq").desc())
    return (
        layers.withColumn("_rn", F.row_number().over(w))
        .groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_ops"),
            F.min("commit_seq").alias("first_seq"),
            F.max("commit_seq").alias("last_seq"),
            F.max(F.when(F.col("_rn") == 1, F.col("op"))).alias("last_op"),
        )
    )


def orders_layers(orders: DataFrame) -> DataFrame:
    """Deterministic demo layer stack over the orders table (used by
    the correctness-gate queries; SQL-mirrorable):

    - seq 1 "c1": add orders with o_orderdate < 1997-01-01
    - seq 2 "c2": add 1997 <= o_orderdate < 1999-01-01,
                  del o_totalprice > 400000 among seq-1 orders
    - seq 3 "c3": add o_orderdate >= 1999-01-01
    """
    d97 = F.lit("1997-01-01").cast("timestamp")
    d99 = F.lit("1999-01-01").cast("timestamp")
    o = orders.select("o_orderkey", "o_orderdate", "o_totalprice")
    c1 = o.where(F.col("o_orderdate") < d97).select(
        F.lit(1).alias("commit_seq"), F.lit("c1").alias("commit_id"), F.lit("add").alias("op"),
        "o_orderkey", "o_totalprice",
    )
    c2a = o.where((F.col("o_orderdate") >= d97) & (F.col("o_orderdate") < d99)).select(
        F.lit(2).alias("commit_seq"), F.lit("c2").alias("commit_id"), F.lit("add").alias("op"),
        "o_orderkey", "o_totalprice",
    )
    c2d = o.where((F.col("o_orderdate") < d97) & (F.col("o_totalprice") > 400000)).select(
        F.lit(2).alias("commit_seq"), F.lit("c2").alias("commit_id"), F.lit("del").alias("op"),
        "o_orderkey", "o_totalprice",
    )
    c3 = o.where(F.col("o_orderdate") >= d99).select(
        F.lit(3).alias("commit_seq"), F.lit("c3").alias("commit_id"), F.lit("add").alias("op"),
        "o_orderkey", "o_totalprice",
    )
    return c1.unionByName(c2a).unionByName(c2d).unionByName(c3)


def apply_delta(triples: DataFrame, delta: DataFrame) -> DataFrame:
    """New store state after one WOQL update delta (run_update output):
    deletes are an anti-join on the triple identity, adds a union.
    Parity: committing a staged transaction produces a child layer in
    terminusdb-store; reads see parent minus removes plus adds.  Both
    sides scale with |delta|, not |store| history."""
    key = ["graph", "subject", "predicate", "obj"]
    dels = delta.where(F.col("op") == "del").select(*key).distinct()
    adds = delta.where(F.col("op") == "add").select(
        "graph", "subject", "predicate", "obj", "obj_type", "obj_num"
    )
    # conform to the store's schema: stores carry typed-literal
    # extension columns (obj_lang/obj_ts); deltas that don't supply
    # them add untyped (NULL) literals
    for f in triples.schema.fields:
        if f.name not in adds.columns:
            adds = adds.withColumn(f.name, F.lit(None).cast(f.dataType))
    return triples.join(dels, on=key, how="left_anti").unionByName(
        adds.select(*triples.columns)
    )


def diff_rows(layers: DataFrame, from_seq: int, to_seq: int, key_cols: list[str]) -> DataFrame:
    """Diff between two commits *with payload columns* — the form the
    reference's ``api/apply`` consumes (a diff is itself a set of full
    triples tagged added/removed, not just keys).  Added rows carry
    the ``to`` side's payload, removed rows the ``from`` side's.  Same
    single aggregate as :func:`diff`, carrying each end's winning row
    through ``max_by`` over the same rank."""
    cols = [c for c in layers.columns if c not in ("commit_seq", "commit_id", "op")]
    payload = [c for c in cols if c not in key_cols]
    ends = _ends(
        layers, from_seq, to_seq, key_cols,
        *[
            F.max_by(F.struct(*payload), _last_op_rank(seq)).alias(name)
            for seq, name in ((from_seq, "_pa"), (to_seq, "_pb"))
            if payload
        ],
    )
    return ends.select(
        F.when(F.col("_in_b"), "added").otherwise("removed").alias("op"),
        *[
            F.col(c) if c in key_cols
            else F.when(F.col("_in_b"), F.col("_pb")[c]).otherwise(F.col("_pa")[c]).alias(c)
            for c in cols
        ],
    )


def apply_as_commit(
    branch: DataFrame, diff_df: DataFrame, new_seq: int, commit_id: str
) -> DataFrame:
    """The reference's ``apply`` verb (api/apply): turn a diff between
    two commits into a *new commit* on an arbitrary branch — added →
    add ops, removed → del ops, stacked as one layer at ``new_seq``.
    Materializing the result replays the diff over whatever state the
    branch head had; cost scales with |diff|, never |branch history|."""
    payload = [c for c in diff_df.columns if c != "op"]
    layer = diff_df.select(
        F.lit(new_seq).alias("commit_seq"),
        F.lit(commit_id).alias("commit_id"),
        F.when(F.col("op") == "added", "add").otherwise("del").alias("op"),
        *payload,
    )
    return branch.unionByName(layer.select(*branch.columns))


def cherry_pick(
    branch: DataFrame, source: DataFrame, pick_seq: int, new_seq: int, commit_id: str
) -> DataFrame:
    """Cherry-pick: replay exactly one commit's delta (its add/del
    layer, not the cumulative state) from ``source`` onto ``branch``
    as a new head commit — a single seq-filter + re-tag, no shuffle."""
    layer = source.where(F.col("commit_seq") == pick_seq).select(
        F.lit(new_seq).alias("commit_seq"),
        F.lit(commit_id).alias("commit_id"),
        "op",
        *[c for c in source.columns if c not in ("commit_seq", "commit_id", "op")],
    )
    return branch.unionByName(layer.select(*branch.columns))


def reset(layers: DataFrame, to_seq: int) -> DataFrame:
    """Hard reset: drop every layer after ``to_seq`` (the reference's
    branch reset, api/reset) — a pure filter, so the scan prunes on
    the commit_seq column and nothing shuffles."""
    return layers.where(F.col("commit_seq") <= to_seq)


def branch_layers(layers: DataFrame, branch_points: dict[str, int]) -> DataFrame:
    """Branches as refs over one shared layer pool: branch ``b``
    forked at seq ``s`` sees the trunk's layers <= s plus its own
    layers tagged (branch, seq > s).  Input layers may carry a
    ``branch`` column ('main' assumed when absent); output adds one.
    Pure column algebra — branching never copies data, exactly like
    the reference's ref machinery pointing at shared immutable
    terminusdb-store layers."""
    if "branch" not in layers.columns:
        layers = layers.withColumn("branch", F.lit("main"))
    return layers


def merge_branches(
    base: DataFrame, left: DataFrame, right: DataFrame, key_cols: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Three-way merge of two branch deltas over a common base — the
    verb that closes the git-for-data set (reference: merging branch
    refs; conflicts surface where the branches disagree about the same
    entity).

    ``left``/``right``: net delta frames (op ∈ {add, del} + the base's
    entity columns).  Returns ``(merged, conflicts)``:

    - conflicts: keys both branches touched with *different* ops
      (one deletes what the other (re-)adds) — (key..., l_op, r_op);
    - merged: left-wins resolution (git's "ours") — base minus
      effective deletes plus effective adds, where a conflicted key
      takes the left branch's op and the right branch's row is
      dropped.

    Everything is key-keyed joins (full-outer on the delta keys, two
    anti-joins, one union) — cost scales with |deltas|, never with
    |base| history."""
    lk = left.select(*key_cols, F.col("op").alias("l_op")).distinct()
    rk = right.select(*key_cols, F.col("op").alias("r_op")).distinct()
    both = lk.join(rk, key_cols, "full_outer")
    conflicts = both.where(
        F.col("l_op").isNotNull()
        & F.col("r_op").isNotNull()
        & (F.col("l_op") != F.col("r_op"))
    )
    eff = both.select(*key_cols, F.coalesce("l_op", "r_op").alias("op"))
    eff_dels = eff.where(F.col("op") == "del").select(*key_cols)
    eff_add_keys = eff.where(F.col("op") == "add").select(*key_cols)
    conflict_keys = conflicts.select(*key_cols)
    l_adds = left.where(F.col("op") == "add")
    r_adds = right.where(F.col("op") == "add").join(
        conflict_keys, key_cols, "left_anti"
    )
    adds = l_adds.unionByName(r_adds).select(*base.columns).distinct()
    # base drops both deleted keys AND re-added keys (the add row
    # supersedes the base row) — a branch re-adding a triple already
    # present in base must not duplicate it; the anti-join's right
    # side stays delta-sized (broadcastable), preserving the
    # |delta|-not-|base| cost contract that a distinct() over the
    # merged result would break.
    merged = base.join(
        eff_dels.unionByName(eff_add_keys), key_cols, "left_anti"
    ).unionByName(adds)
    return merged, conflicts


def merge_property_conflicts(
    left_adds: DataFrame, right_adds: DataFrame
) -> DataFrame:
    """Property-grain merge conflicts — the grain the reference's
    document merge reports at: two branches both *set* the same
    (graph, subject, predicate) but to different values.  Triple-grain
    merge (``merge_branches``) can't see these: different objects are
    different rows, so neither branch touches the "same" row.

    Input: each branch's net added triples.  Output: one row per
    conflicted property — (graph, subject, predicate, left_obj,
    right_obj).  Branches agreeing on the value (same obj) do not
    conflict; a property only one branch set does not conflict.

    One aggregate per side (collapse multi-valued adds to a sorted
    rendering so set-valued properties compare order-free) and one
    inner join keyed by the property — scales with |adds|."""
    def net(side: DataFrame, alias: str) -> DataFrame:
        return side.groupBy("graph", "subject", "predicate").agg(
            F.array_join(F.array_sort(F.collect_set("obj")), "|").alias(alias)
        )

    lj = net(left_adds, "left_obj")
    rj = net(right_adds, "right_obj")
    return lj.join(rj, ["graph", "subject", "predicate"]).where(
        F.col("left_obj") != F.col("right_obj")
    )


def materialize_branch(
    layers: DataFrame, branch: str, fork_seq: int, at_seq: int, key_cols: list[str]
) -> DataFrame:
    """State of ``branch`` at ``at_seq``: trunk layers up to the fork
    plus the branch's own layers after it.  One filter + the standard
    window materialization — cost scales with the visible layer set,
    not with how many branches exist."""
    lb = branch_layers(layers, {})
    visible = lb.where(
        ((F.col("branch") == "main") & (F.col("commit_seq") <= fork_seq))
        | ((F.col("branch") == branch) & (F.col("commit_seq") > fork_seq))
    ).drop("branch")
    return materialize(visible, at_seq, key_cols)


def blame(layers: DataFrame, key_cols: list[str], at_seq: int | None = None) -> DataFrame:
    """(key..., commit_seq, commit_id): git-blame for data — for
    every key live at ``at_seq`` (head when None), the commit that
    introduced its current state: the key's latest layer row at or
    below ``at_seq``, kept only when that row is an 'add' (a latest
    'del' means the key is dead and has no blame line).

    One window over the layer pool partitioned by key — cost scales
    with |layers touching live keys|, and the commit_seq filter
    prunes layer partitions before the shuffle."""
    from pyspark.sql.window import Window

    df = layers if at_seq is None else layers.where(F.col("commit_seq") <= at_seq)
    w = Window.partitionBy(*key_cols).orderBy(F.col("commit_seq").desc())
    last = df.withColumn("_rk", F.row_number().over(w)).where(F.col("_rk") == 1)
    return last.where(F.col("op") == "add").select(
        *key_cols, "commit_seq", "commit_id"
    )


def revert(layers: DataFrame, revert_seq: int, new_seq: int, commit_id: str) -> DataFrame:
    """Revert: append the INVERSE of one commit's delta as a new head
    commit (git revert — history is immutable, unlike ``reset``):
    every 'add' of the reverted commit becomes a 'del' and vice
    versa.  A seq-filter + op flip + union — no shuffle; the
    materialized state afterwards is as if the commit never happened,
    provided later commits didn't overwrite the same keys (exactly
    git's semantics — overlaps surface as conflicts at merge grain,
    not here)."""
    inverse = layers.where(F.col("commit_seq") == revert_seq).select(
        F.lit(new_seq).alias("commit_seq"),
        F.lit(commit_id).alias("commit_id"),
        F.when(F.col("op") == "add", F.lit("del")).otherwise(F.lit("add")).alias("op"),
        *[c for c in layers.columns if c not in ("commit_seq", "commit_id", "op")],
    )
    return layers.unionByName(inverse.select(*layers.columns))


def maintain_rollup(
    base_agg: DataFrame,
    layers: DataFrame,
    from_seq: int,
    to_seq: int,
    group_col,
    sum_col: str,
    group_name: str = "grp",
) -> DataFrame:
    """Incremental view maintenance: refresh a materialized
    ``(group, n, sum)`` rollup from commit ``from_seq`` to
    ``to_seq`` by reading ONLY the delta layers in between — never
    the base data (the reason materialized rollups stay cheap on a
    100 TB store: work scales with |delta|, not |state|).  This is
    the classic counting algorithm over a well-formed changelog —
    the contract terminusdb layers satisfy by construction: a 'del'
    row carries the payload visible below it, an 'add' introduces a
    key not currently visible (updates appear as del+add pairs).

    ``base_agg``: (group_name, n, sum_{sum_col}) at ``from_seq``;
    ``group_col``: Column deriving the group from a layer row.
    Per-group increments are one map-side-combined aggregate over the
    window's delta rows (+payload/+1 for add, −payload/−1 for del,
    summed in decimal(28,6) so the refreshed sums are bit-identical
    to a recompute); the merge is a full-outer join on the group key
    — broadcastable whenever the group domain is, and groups whose
    count reaches zero drop out of the view."""
    sgn = F.when(F.col("op") == "add", F.lit(1)).otherwise(F.lit(-1))
    win = layers.where(
        (F.col("commit_seq") > from_seq) & (F.col("commit_seq") <= to_seq)
    )
    inc = win.groupBy(group_col.alias(group_name)).agg(
        F.sum(sgn).cast("bigint").alias("_dn"),
        F.sum(sgn.cast("decimal(28,6)") * F.col(sum_col).cast("decimal(28,6)"))
        .cast("decimal(28,6)")
        .alias("_dsum"),
    )
    sum_name = f"sum_{sum_col}"
    merged = base_agg.join(inc, group_name, "full_outer").select(
        group_name,
        (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("_dn"), F.lit(0)))
        .cast("bigint")
        .alias("n"),
        (
            F.coalesce(F.col(sum_name).cast("decimal(28,6)"), F.lit(0).cast("decimal(28,6)"))
            + F.coalesce(F.col("_dsum"), F.lit(0).cast("decimal(28,6)"))
        ).alias(sum_name),
    )
    return merged.where(F.col("n") > 0)


def maintain_join_view(
    base_view: DataFrame,
    fact_delta: DataFrame,
    dim: DataFrame,
    fact_key: str,
    join_key: str,
    payload_cols: list[str],
) -> DataFrame:
    """Incremental maintenance of a JOIN view (the delta-join rule:
    Δ(F ⋈ D) = ΔF ⋈ D when only the fact side changes): refresh a
    materialized ``fact ⋈ dim`` view by joining ONLY the delta rows
    against the dimension and applying them to the view — add rows
    append, del rows retract by fact key.  Work scales with |Δ|, not
    |view|: the delta-side join is broadcast when the dim is, and the
    retraction is an anti-join on the (indexed) fact key.

    ``fact_delta``: (op ∈ add|del, fact_key, join_key, payload...);
    ``base_view``: the materialized join at the previous commit with
    the same columns as the output.  Updates arrive as del+add pairs
    (the layer contract), so retract-then-append is exact."""
    dels = fact_delta.where(F.col("op") == "del").select(fact_key)
    adds = (
        fact_delta.where(F.col("op") == "add")
        .select(fact_key, join_key, *payload_cols)
        .join(F.broadcast(dim), join_key)
    )
    survived = base_view.join(dels, fact_key, "left_anti")
    return survived.unionByName(adds.select(*base_view.columns))


def patch_ids(layers: DataFrame, key_cols: list[str]) -> DataFrame:
    """(commit_seq, commit_id, patch_id, n_rows): content-addressed
    delta identity — the ``git patch-id`` analogue (reference parity:
    terminusdb-store identifies layers by content-derived ids; public
    locus: terminusdb-store src/layer id derivation): a canonical hash
    of each commit's row set that is invariant to commit id, seq
    position, and row order, so THE SAME CHANGE replayed on another
    branch (cherry-pick, rebase, double-apply) is detectable by
    equality (``git cherry``'s upstream-already-has-it test).

    Canonical form: per row md5 over (op, key...), truncated to 32
    bits and summed with the row count — a commutative fold, so the
    id needs no per-commit sort and stays one map-side agg at any
    commit size (a sorted-concat id would shuffle every row of a
    100 TB commit to one reducer).  32-bit terms keep the int64 sum
    exact up to 2^31 rows per commit.  Engine-portable: md5 and the
    hex prefix are bit-identical in DuckDB."""
    canon = F.concat_ws("|", F.col("op"), *[F.col(c).cast("string") for c in key_cols])
    h = F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("bigint")
    return layers.groupBy("commit_seq", "commit_id").agg(
        (F.sum(h) + F.count(F.lit(1))).alias("patch_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )


def bisect_first_bad(
    layers: DataFrame,
    key_cols: list[str],
    predicate,
    lo_seq: int,
    hi_seq: int,
) -> tuple[int, int]:
    """``git bisect`` over the commit stack (reference parity: commit
    history walks in terminus-server src/core/api/db_branch +
    ref.pl resolve machinery — this is the search the reference's
    linear history makes possible): find the FIRST commit
    seq in [lo_seq, hi_seq] whose materialized state satisfies
    ``predicate`` (a fn(state_df) -> bool that must be monotone over
    the stack — once bad, stays bad, e.g. a regression a later
    commit cannot un-introduce).  Classic binary search: each probe
    materializes ONE commit and evaluates the predicate, so the cost
    is ceil(log2(hi-lo+1)) bounded materializations — never a scan
    of every commit's state.  The driver-side loop is O(log n)
    scalar decisions over job results, the same shape as the
    reference's bisect-style history search (and git's).

    Returns ``(first_bad_seq, n_probes)``; if no commit in range is
    bad, returns ``(hi_seq + 1, n_probes)``."""
    probes = 0
    lo, hi = lo_seq, hi_seq + 1
    while lo < hi:
        mid = (lo + hi) // 2
        probes += 1
        if predicate(materialize(layers, mid, key_cols)):
            hi = mid
        else:
            lo = mid + 1
    return lo, probes


def verify_integrity(
    commits: DataFrame, patches: DataFrame
) -> DataFrame:
    """(commit_id, ok): hash-chain verification over the commit DAG —
    the ``git fsck`` analogue (reference parity: terminusdb-store's
    content-addressed layer ids make tampering equally detectable;
    public locus: terminusdb-store layer id checks).  Convention: a commit's stored hash is
    md5(commit_id | sorted-parent-ids | patch_id) — it seals both
    the DAG position (parent pointers) and the content (the
    patch-id of its delta rows), so tampering with any of the three
    flips ``ok`` to false for that commit.  Verification is LOCAL
    per commit (parents enter by their stored ids, exactly like git
    object hashes): one join against ``patches``, one hash, one
    compare — no graph traversal, embarrassingly parallel at any
    history size.

    ``commits``: (commit_id, stored_hash, parents array<string>);
    ``patches``: (commit_id, patch_id) from :func:`patch_ids`."""
    recomputed = F.md5(
        F.concat_ws(
            "|",
            F.col("commit_id"),
            F.concat_ws(",", F.sort_array(F.col("parents"))),
            F.col("patch_id").cast("string"),
        )
    )
    return (
        commits.join(patches.select("commit_id", "patch_id"), "commit_id", "left_outer")
        .select(
            "commit_id",
            (F.col("stored_hash") == recomputed).alias("ok"),
        )
    )


def reflog_positions(reflog: DataFrame) -> DataFrame:
    """(ref, moves_ago, commit_id, action): the ``ref@{n}`` view of a
    ref-movement log — git's reflog resolution (reference parity: the
    reference tracks branch heads in the _commits graph; public locus:
    terminus-server src/core/api/db_branch.pl ref updates): every historical
    position of every ref, ranked newest-first per ref so
    ``moves_ago = 0`` is the current position and ``ref@{n}`` is one
    filter away.  ``reflog``: (ref, move_seq, commit_id, action) —
    appends only, the recovery trail that makes resets/rebases
    undoable.  One ref-partitioned window over ref-movement metadata
    (bounded by ref activity, not data)."""
    w = Window.partitionBy("ref").orderBy(F.col("move_seq").desc())
    return reflog.select(
        "ref",
        (F.row_number().over(w) - 1).cast("int").alias("moves_ago"),
        "commit_id",
        "action",
    )


def shallow_clone(
    layers: DataFrame,
    key_cols: list[str],
    head_seq: int,
    depth: int,
    base_commit: str = "shallow-base",
) -> DataFrame:
    """A depth-limited clone's layer stack — git shallow clone with a
    graft point: history below ``head_seq − depth`` collapses into
    ONE squashed add-only base layer at the boundary seq, the real
    layers above ride along unchanged.  Every materialization at
    seq > boundary is bit-identical to the full stack's (squash keeps
    net state), while the transfer/storage cost drops from the whole
    history to depth+1 layers — the onboarding path for a 100 TB
    store where full history is a server-side-only concern."""
    boundary = head_seq - depth
    base = squash(layers, boundary, key_cols, base_commit).withColumn(
        "commit_seq", F.lit(boundary)
    )
    return base.unionByName(
        layers.where(F.col("commit_seq") > boundary).select(*base.columns)
    )


def merge_octopus(
    base: DataFrame, branches: list[DataFrame], key_cols: list[str]
) -> tuple[DataFrame, DataFrame]:
    """N-way (octopus) merge of branch deltas over a common base —
    git's octopus strategy generalized with a DETERMINISTIC
    resolution: branches are ranked by list position and a key
    claimed by several branches takes the LOWEST-RANKED branch's op
    (first-wins; git refuses octopus merges with conflicts, this
    reports them AND resolves).  Returns ``(merged, conflicts)``;
    conflicts are keys where at least two branches disagree on the
    op, with the disagreeing op set rendered sorted.

    All work is keyed joins over the UNION OF DELTAS tagged with the
    branch rank (one groupBy for the winner per key via min_by, one
    for the conflict report) — cost scales with Σ|deltas|, never
    |base|, the same contract as the two-way merge."""
    if not branches:  # n = 0 merges to the base with no conflicts
        empty_cf = base.select(
            *key_cols, F.lit("").alias("ops")
        ).where(F.lit(False))
        return base, empty_cf
    tagged = None
    for i, br in enumerate(branches):
        t = br.select(F.lit(i).alias("_rank"), F.col("op"), *key_cols)
        tagged = t if tagged is None else tagged.unionByName(t)
    tagged = tagged.distinct()
    per_key = tagged.groupBy(*key_cols).agg(
        F.min_by("op", "_rank").alias("_win_op"),
        F.min("_rank").alias("_win_rank"),
        F.array_sort(F.collect_set("op")).alias("_ops"),
    )
    conflicts = per_key.where(F.size("_ops") > 1).select(
        *key_cols, F.array_join("_ops", "|").alias("ops")
    )
    winners = per_key.select(*key_cols, "_win_op", "_win_rank")
    adds = None
    for i, br in enumerate(branches):
        w = winners.where((F.col("_win_rank") == i) & (F.col("_win_op") == "add"))
        a = br.where(F.col("op") == "add").join(w.select(*key_cols), key_cols, "left_semi")
        adds = a if adds is None else adds.unionByName(a)
    adds = adds.select(*base.columns).distinct() if adds is not None else None
    touched = winners.select(*key_cols)
    merged = base.join(touched, key_cols, "left_anti")
    if adds is not None:
        merged = merged.unionByName(adds.select(*base.columns))
    return merged, conflicts


def range_diff(
    layers_a: DataFrame, layers_b: DataFrame, key_cols: list[str]
) -> DataFrame:
    """(commit_a, seq_a, commit_b, seq_b, status): the ``git
    range-diff`` analogue — compare two commit RANGES (e.g. a branch
    before and after a rebase) by CONTENT, matching commits across
    ranges on their :func:`patch_ids` identity: ``equal`` = the same
    change appears in both ranges (possibly at a different position
    or under a new commit id — exactly what a clean rebase produces),
    ``only_a`` = dropped by the rewrite, ``only_b`` = introduced by
    it.  A commit whose content was EDITED during the rewrite shows
    as its only_a/only_b pair — the honest exact-identity answer
    (git's fuzzy pairing ranks by diff similarity; content equality
    is the decidable core of it).  Cost: two commit-count-sized
    patch-id aggregates (each one map-side fold over its range's
    rows) + one full outer join on the id — never a state diff.
    Precondition: patch ids are unique within each range (two
    byte-identical commits in ONE range would cross-pair)."""
    ia = patch_ids(layers_a, key_cols)
    ib = patch_ids(layers_b, key_cols)
    a = ia.select(
        F.col("commit_id").alias("commit_a"),
        F.col("commit_seq").cast("bigint").alias("seq_a"),
        "patch_id",
    )
    b = ib.select(
        F.col("commit_id").alias("commit_b"),
        F.col("commit_seq").cast("bigint").alias("seq_b"),
        F.col("patch_id").alias("_pb"),
    )
    return a.join(
        b, a["patch_id"] == b["_pb"], "full_outer"
    ).select(
        "commit_a",
        "seq_a",
        "commit_b",
        "seq_b",
        F.when(F.col("commit_a").isNull(), F.lit("only_b"))
        .when(F.col("commit_b").isNull(), F.lit("only_a"))
        .otherwise(F.lit("equal"))
        .alias("status"),
    )
