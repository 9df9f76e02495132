"""Graph analytics over DataFrame edge lists: exact fixed-point
PageRank.

The reference has no graph operators at all; its nearest neighbor is
the dedup suite's connected components (functions/dedup.py), which
iterates hash-min label propagation.  PageRank is the other canonical
iterative graph kernel a data-curation pipeline reaches for (source
authority for quality weighting, influence ranking over interaction
graphs), and it showcases the second iterative-algorithm shape: a
per-round join + aggregate instead of CC's per-round min-fold.

Exactness: floating-point PageRank is order-dependent (float sums), so
cross-engine bit parity is impossible.  This implementation runs in
INTEGER fixed point instead — ranks are BIGINT multiples of 1/SCALE,
every contribution is one floor division `(pr * dampN) div (dampD *
outdeg)`, and sums are exact BIGINT adds.  Truncation deliberately
leaks a little mass per round (each floor drops < 1 unit); that loss
IS the spec, identically reproducible in any engine with integer
division — which is what makes a full SQL oracle possible (unrolled
CTE iterations in DuckDB match bit-for-bit).

Scale shape (per iteration): one co-partitioned join of the
(src-partitioned, persisted) degree-annotated edge list against the
rank table, one groupBy(dst) aggregate — i.e. one shuffle of the rank
updates per round, the same per-round cost envelope as dedup's CC.
Below BROADCAST_RANKS_MAX_NODES the loop is a single lineage evaluated
in one job (zero per-round driver barriers); above it, ranks are
localCheckpointed every few rounds so the plan stays flat — at cluster
scale use a reliable checkpoint dir.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000_000_000  # ranks are BIGINT multiples of 1e-12


#: below this node count the rank table rides each iteration's join as
#: an explicit broadcast (~30 MB at 1M nodes x ~30 B/row) — the edge
#: side then never exchanges; above it, ranks hash-join against the
#: src-partitioned edge list (the cluster-scale shape)
BROADCAST_RANKS_MAX_NODES = 1_000_000

#: below this EDGE count the whole graph fits comfortably in one task
#: (~20M edges x ~40 B of string pair + int64 working set ≈ 1-2 GB,
#: within a normal executor core's memory) and the iteration runs as a
#: single Arrow-batched numpy kernel — zero per-round exchanges or
#: driver barriers, same size-dispatch philosophy as Spark's own
#: broadcast-join threshold.  Above it, the distributed per-round
#: join+aggregate loop runs.  The arithmetic is identical either way
#: (int64 floor divisions and sums), so results are bit-equal.  The one
#: threshold for every kernel here and for dedup's connected components.
SINGLE_TASK_MAX_EDGES = 20_000_000


@contextmanager
def _persisted(df: DataFrame):
    """``df`` persisted for the ``with`` body and released on exit, also
    when the body raises — an error must not leave executor storage
    pinned for the session's life."""
    df = df.persist()
    try:
        yield df
    finally:
        df.unpersist()


def _run_edge_kernel(
    edges: DataFrame,
    kernel,
    schema: str,
    distributed,
    upper_bound: int | None = None,
) -> DataFrame:
    """The size dispatch every graph operator shares.  ``edges`` is a
    two-column frame; rows with a null endpoint are dropped first, so
    both regimes see the identical graph (a null would otherwise be a
    group of its own in the distributed plan and code -1 in a kernel's
    ``pd.factorize``).

    Graphs of at most :data:`SINGLE_TASK_MAX_EDGES` edges run ``kernel``
    (a mapInPandas function emitting ``schema``) in ONE task; larger
    ones run ``distributed(e, n_edges)`` over the persisted edge list.
    Deciding needs a count, which also fills the edge cache the
    distributed loop reuses.  A caller that already knows an
    ``upper_bound`` on the edge count at or under the threshold skips
    the persist and the count: the kernel job is then the only pass
    over the caller's edge lineage.

    Both regimes return a materialized frame (the kernel's eager local
    checkpoint; each distributed loop checkpoints or collects its last
    round), so releasing the edge cache on return recomputes nothing.
    The kernels therefore never see a null endpoint."""
    src, dst = edges.columns
    e = edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())

    def run_kernel(df: DataFrame) -> DataFrame:
        return (
            df.repartition(1)
            .mapInPandas(kernel, schema)
            .localCheckpoint(eager=True)
        )

    if upper_bound is not None and upper_bound <= SINGLE_TASK_MAX_EDGES:
        return run_kernel(e)
    with _persisted(e) as e:
        n_edges = e.count()
        if n_edges <= SINGLE_TASK_MAX_EDGES:
            return run_kernel(e)
        return distributed(e, n_edges)


def _pagerank_single_task_kernel(
    iterations: int, damp_num: int, damp_den: int, early_exit: bool
):
    """mapInPandas kernel: the full integer PageRank loop over one
    task's (src, dst) edge batch.  int64 throughout — products bounded
    by SCALE * damp_num ≈ 8.5e13 << 2^63, sums bounded by total mass.
    Consecutive-round bit equality (exact in fixed point) short-cuts
    the loop when ``early_exit``: every later round would be identical."""
    import numpy as np
    import pandas as pd

    def fn(batches):
        dfs = list(batches)
        if not dfs:
            return
        df = pd.concat(dfs, ignore_index=True)
        codes, nodes = pd.factorize(
            pd.concat([df["src"], df["dst"]], ignore_index=True), sort=True
        )
        m = len(df)
        sid = codes[:m].astype(np.int64)
        did = codes[m:].astype(np.int64)
        n = len(nodes)
        outdeg = np.bincount(sid, minlength=n).astype(np.int64)
        teleport = (SCALE * (damp_den - damp_num)) // (damp_den * n)
        pr = np.full(n, SCALE // n, dtype=np.int64)
        for _ in range(int(iterations)):
            contrib = (pr[sid] * damp_num) // (damp_den * outdeg[sid])
            s = np.zeros(n, dtype=np.int64)
            np.add.at(s, did, contrib)
            new_pr = teleport + s
            if early_exit and np.array_equal(new_pr, pr):
                break
            pr = new_pr
        yield pd.DataFrame({"node": np.asarray(nodes), "pr": pr})

    return fn


def pagerank_exact(
    edges: DataFrame,
    iterations: int = 5,
    damp_num: int = 85,
    damp_den: int = 100,
    early_exit: bool = True,
    single_task_hint: int | None = None,
) -> DataFrame:
    """Exact integer fixed-point PageRank over a directed (src, dst)
    edge list.

    Returns (node, pr) with ``pr`` in BIGINT SCALE units.  Every node
    appearing as a source or destination participates; dangling nodes
    (no out-edges) simply contribute nothing (their mass evaporates,
    again deterministically).  ``damp_num/damp_den`` is the damping
    factor as an exact rational (default 85/100).  Edges with a null
    endpoint are dropped.

    Three size-dispatched regimes, bit-equal by construction:

    - edges <= SINGLE_TASK_MAX_EDGES: ONE Arrow-batched numpy task runs
      the whole loop (``_pagerank_single_task_kernel``) — no per-round
      exchanges or driver barriers (see :func:`_run_edge_kernel`).
    - nodes <= BROADCAST_RANKS_MAX_NODES: distributed loop, rank table
      broadcast each round, so the cached edge list never exchanges;
      the whole loop is one lineage materialized by one job.
    - else: cluster scale — the degree-annotated edge list is
      src-partitioned and cached once, then one co-partitioned join +
      one rank exchange per round, with an eager localCheckpoint every
      2 rounds to keep the plan flat.  Shuffle widths are scoped
      per-plan via explicit repartition (the session-global
      shuffle.partitions is never touched).

    ``early_exit`` (kernel only): integer fixed point makes rank
    equality exact, so when round k+1 equals round k bit-for-bit every
    later round is identical and the loop stops.  The check compares
    CONSECUTIVE rounds only: a gap-k comparison would certify a k-cycle,
    not a fixed point, and truncated integer maps can in principle
    cycle.  The distributed loop always runs every round, which gives
    the same ranks.

    ``single_task_hint``: a caller-supplied UPPER BOUND on the edge
    count (e.g. 2x a fact table's metadata-only count).  When it fits
    the kernel, the dispatch count — a full evaluation of the caller's
    edge lineage just to pick a regime — is skipped.  actual <= hint <=
    threshold keeps the task exactly as memory-bounded as a counted
    dispatch.
    """
    e = edges.select("src", "dst")
    # node ids keep the caller's type (string suppliers, long doc ids,
    # ...) — a hard-coded schema would crash Arrow conversion
    id_type = dict(e.dtypes)["src"]

    def distributed(e: DataFrame, n_edges: int) -> DataFrame:
        spark = e.sparkSession
        nodes_all = e.select(
            F.explode(F.array(F.col("src"), F.col("dst"))).alias("node")
        ).distinct()
        with _persisted(nodes_all) as nodes:
            n = nodes.count()
            deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
            broadcast_ranks = n <= BROADCAST_RANKS_MAX_NODES
            ed = e.join(deg, "src")
            if not broadcast_ranks:
                # src-partitioned once, sized to the graph (~1M
                # edges/task, floor 4) with an EXPLICIT width — not the
                # session conf; every iteration's hash join reuses it
                parts = max(
                    4,
                    min(
                        int(spark.conf.get("spark.sql.shuffle.partitions")),
                        n_edges // 1_000_000 + 1,
                    ),
                )
                ed = ed.repartition(parts, "src")
            with _persisted(ed) as ed:
                teleport = (SCALE * (damp_den - damp_num)) // (damp_den * n)
                pr = nodes.withColumn("pr", F.lit(SCALE // n))
                for it in range(int(iterations)):
                    rank_side = F.broadcast(pr) if broadcast_ranks else pr
                    contribs = (
                        ed.join(rank_side, ed.src == pr.node)
                        .select(
                            "dst",
                            F.expr(
                                f"(pr * {damp_num}L) div ({damp_den}L * outdeg)"
                            ).alias("c"),
                        )
                        .groupBy("dst")
                        .agg(F.sum("c").alias("s"))
                    )
                    pr = nodes.join(
                        contribs, nodes.node == contribs.dst, "left"
                    ).select(
                        "node",
                        (
                            F.lit(teleport) + F.coalesce(F.col("s"), F.lit(0))
                        ).alias("pr"),
                    )
                    if not broadcast_ranks and (
                        (it + 1) % 2 == 0 or it + 1 == int(iterations)
                    ):
                        # eager: materialize up to here so the iterated
                        # plan stays flat.  Superseded checkpoint blocks
                        # are reclaimed by the ContextCleaner when their
                        # DataFrame is dropped.
                        pr = pr.localCheckpoint(eager=True)
                if broadcast_ranks:
                    # ONE job runs every round of the single lineage
                    # back-to-back (each round's BroadcastExchange
                    # computes inline) before the caches are released
                    pr = pr.localCheckpoint(eager=True)
        return pr

    return _run_edge_kernel(
        e,
        _pagerank_single_task_kernel(iterations, damp_num, damp_den, early_exit),
        f"node {id_type}, pr long",
        distributed,
        upper_bound=single_task_hint,
    )


def pagerank_oracle_sql(
    edges_cte: str,
    iterations: int = 5,
    damp_num: int = 85,
    damp_den: int = 100,
) -> str:
    """The DuckDB oracle for :func:`pagerank_exact`: unrolled CTE
    iterations over ``edges_cte`` (a CTE body yielding (src, dst))
    reproducing the same integer floor arithmetic bit-for-bit."""
    # AS MATERIALIZED: every iteration references e/deg/nodes — without
    # the hint DuckDB inlines the (possibly expensive) edge CTE into all
    # K join pipelines, which at 100x scale spilled the temp dir dry
    parts = [
        f"WITH e AS MATERIALIZED ({edges_cte})",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY src)",
        "nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes)",
        f"p0 AS (SELECT node, {SCALE} // (SELECT n FROM nn) AS pr FROM nodes)",
    ]
    tele = (
        f"(SELECT ({SCALE} * {damp_den - damp_num}) // ({damp_den} * n) "
        "FROM nn)"
    )
    for k in range(1, int(iterations) + 1):
        parts.append(
            f"p{k} AS (SELECT n.node, {tele} + coalesce(c.s, 0) AS pr "
            "FROM nodes n LEFT JOIN ("
            f"SELECT e.dst AS node, sum((p.pr * {damp_num}) // "
            f"({damp_den} * d.outdeg)) AS s "
            f"FROM e JOIN deg d ON e.src = d.src "
            f"JOIN p{k - 1} p ON p.node = e.src GROUP BY e.dst"
            ") c ON n.node = c.node)"
        )
    return ",\n".join(parts) + f"\nSELECT node, CAST(pr AS BIGINT) AS pr FROM p{int(iterations)}"


def _lpa_single_task_kernel(k_iter: int):
    """mapInPandas kernel: the full synchronous label-propagation loop
    over one task's (a, b) undirected edge batch — the size-dispatch
    twin of ``_pagerank_single_task_kernel`` / dedup's
    ``_cc_single_task_kernel``.  ``pd.factorize(sort=True)`` assigns
    codes in the ids' sort order, so the spec's smallest-label
    tie-break is exactly smallest-code; counts are int64; the pick is
    one lexsort by (id asc, count desc, label asc) per round — the
    identical (count, label) total order the distributed window uses,
    so the two regimes are bit-equal by construction."""
    import numpy as np
    import pandas as pd

    def fn(batches):
        dfs = list(batches)
        if not dfs:
            return
        df = pd.concat(dfs, ignore_index=True)
        codes, nodes = pd.factorize(
            pd.concat([df["a"], df["b"]], ignore_index=True), sort=True
        )
        m = len(df)
        aid = codes[:m].astype(np.int64)
        bid = codes[m:].astype(np.int64)
        # both directions, same as the distributed loop's union
        src = np.concatenate([aid, bid])
        dst = np.concatenate([bid, aid])
        n = len(nodes)
        own = np.arange(n, dtype=np.int64)
        lbl = own.copy()
        for _ in range(int(k_iter)):
            # composite key id*n + lbl: n <= 2m <= 40M so n^2 < 2^63
            keys = np.concatenate([src * n + lbl[dst], own * n + lbl])
            uk, cnt = np.unique(keys, return_counts=True)
            ids = uk // n
            lb = uk % n
            order = np.lexsort((lb, -cnt, ids))
            ids_s = ids[order]
            first = np.ones(len(ids_s), dtype=bool)
            first[1:] = ids_s[1:] != ids_s[:-1]
            new = np.empty(n, dtype=np.int64)
            new[ids_s[first]] = lb[order][first]
            lbl = new
        arr = np.asarray(nodes)
        yield pd.DataFrame({"id": arr, "community": arr[lbl]})

    return fn


def _lpa_round(both: DataFrame, labels: DataFrame) -> DataFrame:
    """ONE synchronous LPA round: neighbor-label counts (one join + one
    (id,lbl) count exchange) + one self-label copy + one per-id window
    pick by (count desc, label asc).  Factored out so the per-round
    physical plan is recordable un-checkpointed (PLANS.md; the loop in
    :func:`label_propagation_exact` cuts lineage per round)."""
    from pyspark.sql import Window as W

    nb = (
        both.join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(F.col("src").alias("id"), "lbl")
        .agg(F.count("*").cast("long").alias("c"))
    )
    allc = nb.unionByName(
        labels.select("id", "lbl", F.lit(1).cast("long").alias("c"))
    )
    summed = allc.groupBy("id", "lbl").agg(F.sum("c").alias("c"))
    w = W.partitionBy("id").orderBy(F.col("c").desc(), F.col("lbl").asc())
    return (
        summed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", "lbl")
    )


def lpa_round_plan(edges: DataFrame) -> DataFrame:
    """The distributed LPA per-round lineage (init labels + one round)
    WITHOUT persists/checkpoints — for plan inspection only; results
    match round 1 of the distributed loop."""
    both = edges.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    labels = (
        both.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("lbl"))
    )
    return _lpa_round(both, labels).select(
        "id", F.col("lbl").alias("community")
    )


def label_propagation_exact(edges: DataFrame, k_iter: int = 4) -> DataFrame:
    """(id, community) after ``k_iter`` SYNCHRONOUS label-propagation
    rounds (Raghavan et al., Phys. Rev. E 76, 2007) made fully
    deterministic by spec — the community-detection companion to
    :func:`pagerank_exact` under the same engine-portable recipe:
    every node starts labeled with its own id; each round a node
    adopts the most frequent label among its neighbors' current labels
    plus ONE copy of its own; ties break to the SMALLEST label.
    Integer counts + a total-order pick — no RNG, no float — so the
    whole trajectory replays bit-for-bit as unrolled SQL CTEs.

    ``edges``: (a, b) undirected with a != b, deduplicated; both
    directions are expanded internally.  Edges with a null endpoint
    are dropped.

    Scale shape: each round is one join of the label table against the
    directed edge list (labels keyed by id, a broadcast below the usual
    threshold, co-partitioned above) + one (id, label) count exchange +
    one per-id window pick; k_iter is a small constant, and rounds only
    ever merge communities.

    Size dispatch through :func:`_run_edge_kernel`: up to
    SINGLE_TASK_MAX_EDGES the whole loop runs as ONE Arrow-batched
    numpy task (``_lpa_single_task_kernel``); the arithmetic (integer
    counts + (count desc, label asc) pick) is identical, so the regimes
    are bit-equal.  Above it, the persisted edge list feeds every round
    — without the cache each round's join re-executes the CALLER's
    lineage, e.g. relsuite's co-purchase self-join."""
    e = edges.select("a", "b")
    id_type = dict(e.dtypes)["a"]

    def distributed(e: DataFrame, n_edges: int) -> DataFrame:
        both_dirs = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
            e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
        with _persisted(both_dirs) as both:
            labels = (
                both.select(F.col("src").alias("id"))
                .distinct()
                .select("id", F.col("id").alias("lbl"))
            )
            for _ in range(k_iter):
                # eager per-round cut: the iterated join+window plan
                # would otherwise grow without bound.  localCheckpoint
                # blocks are RDD-level persisted, not CacheManager-
                # tracked; the previous round's blocks are reclaimed by
                # the ContextCleaner once the old `labels` binding is
                # dropped at this rebind.
                labels = _lpa_round(both, labels).localCheckpoint(eager=True)
        return labels.select("id", F.col("lbl").alias("community"))

    return _run_edge_kernel(
        e,
        _lpa_single_task_kernel(k_iter),
        f"id {id_type}, community {id_type}",
        distributed,
    )


def _triangle_single_task_kernel():
    """mapInPandas kernel: the whole triangle census (nodes, edges,
    wedges, triangles) on one task's numpy arrays — the same
    size-dispatch the PageRank/CC kernels use (no per-derivation
    shuffles, no AQE job round-trips; at the dispatch threshold the
    arrays are a few hundred MB, bounded like a broadcast join's build
    side).  The result is identical to the distributed plan by
    construction: triangle count is orientation-invariant for any
    consistent acyclic orientation, and wedge/degree counts are plain
    integer aggregates.  Wedge enumeration is chunked by a fixed pair
    budget so peak memory stays bounded regardless of degree skew."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        acc_a, acc_b = [], []
        for pdf in batches:
            acc_a.append(pdf["a"].to_numpy())
            acc_b.append(pdf["b"].to_numpy())
        if not acc_a:
            return
        a = np.concatenate(acc_a)
        b = np.concatenate(acc_b)
        ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
        m = len(a)
        # enforce the documented edge contract (distinct undirected
        # edges, no self-loops) INSIDE the kernel: duplicate edges or
        # a==b rows would otherwise skew the searchsorted closing-edge
        # probe and diverge from the distinct-input result in an
        # input-size-dependent way (r11 ADVICE).  In-repo callers
        # always feed distinct a<b pairs, so this is a no-op for them
        # (np.unique over already-unique keys), just cheap insurance.
        lo = np.minimum(inv[:m], inv[m:])
        hi = np.maximum(inv[:m], inv[m:])
        keep = np.unique(lo * np.int64(len(ids)) + hi)
        keep = keep[(keep // len(ids)) != (keep % len(ids))]
        if len(keep) != m:
            la, lb = keep // len(ids), keep % len(ids)
            a, b = ids[la], ids[lb]
            ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
            m = len(a)
        ca, cb = inv[:m].astype(np.int64), inv[m:].astype(np.int64)
        n_nodes = np.int64(len(ids))
        deg = np.bincount(ca, minlength=int(n_nodes)) + np.bincount(
            cb, minlength=int(n_nodes)
        )
        n_wedges = int((deg.astype(np.int64) * (deg - 1) // 2).sum())
        # acyclic orientation: lower (deg, code) -> higher
        swap = (deg[cb] < deg[ca]) | ((deg[cb] == deg[ca]) & (cb < ca))
        src = np.where(swap, cb, ca)
        dst = np.where(swap, ca, cb)
        ekey = np.sort(src * n_nodes + dst)
        # CSR over oriented out-neighbors
        order = np.argsort(src, kind="stable")
        s_sorted, d_sorted = src[order], dst[order]
        node_range = np.arange(int(n_nodes), dtype=np.int64)
        starts = np.searchsorted(s_sorted, node_range)
        ends = np.searchsorted(s_sorted, node_range + 1)
        outdeg = ends - starts
        wload = outdeg * (outdeg - 1) // 2
        cum = np.cumsum(wload)
        tri = 0
        budget = 8_000_000
        i = 0
        while i < int(n_nodes):
            base = cum[i - 1] if i > 0 else 0
            j = int(np.searchsorted(cum, base + budget)) + 1
            j = min(max(j, i + 1), int(n_nodes))
            lo, hi = int(starts[i]), int(ends[j - 1])
            if hi > lo:
                P = np.arange(lo, hi, dtype=np.int64)
                sizes = (ends - starts)[i:j]
                end_of_pos = np.repeat(ends[i:j], sizes)
                c = end_of_pos - P - 1  # pairs fanned out per position
                total = int(c.sum())
                if total:
                    x = np.repeat(d_sorted[lo:hi], c)
                    off = np.cumsum(c)
                    y_idx = (
                        np.arange(total, dtype=np.int64)
                        - np.repeat(off - c, c)
                        + np.repeat(P + 1, c)
                    )
                    y = d_sorted[y_idx]
                    # probe the closing edge in both oriented directions
                    k1 = x * n_nodes + y
                    k2 = y * n_nodes + x
                    p1 = np.searchsorted(ekey, k1)
                    p2 = np.searchsorted(ekey, k2)
                    hit1 = (p1 < m) & (ekey[np.minimum(p1, m - 1)] == k1)
                    hit2 = (p2 < m) & (ekey[np.minimum(p2, m - 1)] == k2)
                    tri += int(hit1.sum()) + int(hit2.sum())
            i = j
        yield pd.DataFrame(
            {
                "n_nodes": np.array([n_nodes], dtype="int64"),
                "n_edges": np.array([m], dtype="int64"),
                "n_wedges": np.array([n_wedges], dtype="int64"),
                "n_triangles": np.array([tri], dtype="int64"),
            }
        )

    return fn


def _degrees(e: DataFrame) -> DataFrame:
    return (
        e.select(F.col("a").alias("id"))
        .unionAll(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )


def _orient(e: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree orientation: every undirected edge directed from its
    lower-(deg, id) endpoint to its higher — out-degree under this
    orientation is O(sqrt(m)), which bounds wedge enumeration."""
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("_db"))
    return (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("_da") < F.col("_db"))
                | ((F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
            )
            .otherwise(
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst"))
            )
            .alias("o")
        )
        .select("o.src", "o.dst")
    )


def _close_wedges(ori: DataFrame) -> DataFrame:
    """Wedges at the source: (dst1, dst2) pairs per src, dst1 < dst2 in
    the same (deg, id) order the orientation used — both closing
    directions collapse to ONE probe because the closing edge is also
    oriented.  Returns the triangle rows (one per closed wedge)."""
    w1 = ori.select(F.col("src"), F.col("dst").alias("x"))
    w2 = ori.select(F.col("src"), F.col("dst").alias("y"))
    wedges = w1.join(w2, "src").filter(F.col("x") < F.col("y"))
    closing = ori.select(
        F.col("src").alias("x"), F.col("dst").alias("y")
    ).unionAll(ori.select(F.col("dst").alias("x"), F.col("src").alias("y")))
    return wedges.join(closing.filter(F.col("x") < F.col("y")), ["x", "y"])


def triangle_plan(edges: DataFrame) -> DataFrame:
    """The degree-oriented wedge-join lineage (orientation + wedge
    enumeration + closing probe + count) WITHOUT persists — for plan
    inspection only (PLANS.md); the count equals n_triangles."""
    e = edges.select("a", "b")
    tri = _close_wedges(_orient(e, _degrees(e)))
    return tri.agg(F.count("*").cast("long").alias("n_triangles"))


_CENSUS = "n_nodes long, n_edges long, n_wedges long, n_triangles long"


def triangle_count_exact(edges: DataFrame) -> DataFrame:
    """Exact triangle / wedge counting by DEGREE ORIENTATION — the
    standard shuffle-bounded plan (Cohen 2009; GraphX's triangleCount
    uses the same idea): orient every undirected edge from its
    lower-degree endpoint to its higher-degree endpoint (ties by id),
    enumerate wedges only at each edge's SOURCE (every node emits at
    most choose(out_deg, 2) wedges, and out-degree under this
    orientation is O(sqrt(m)) for any graph), then close wedges with
    one join back to the oriented edge set.  A naive a<b<c 3-way
    self-join explodes on high-degree hubs; orientation bounds the
    intermediate to m^1.5 worst-case — the 100 TB discipline.  All
    integer arithmetic; the closure ratio is one final double division.

    ``edges``: undirected, one row per edge, columns (a, b) with a < b;
    edges with a null endpoint are dropped.  Returns one row: n_nodes,
    n_edges, n_wedges, n_triangles, closure_ratio = 3 * triangles /
    wedges.  Up to SINGLE_TASK_MAX_EDGES the census runs in one numpy
    task (:func:`_run_edge_kernel`; see _triangle_single_task_kernel
    for the identical-result argument).
    """
    spark = edges.sparkSession

    def distributed(e: DataFrame, n_edges: int) -> DataFrame:
        # scale-adaptive width: ~1M edges per task.  The caller's edge
        # lineage usually leaves 32+ cached partitions behind; every
        # downstream map stage (deg, orientation, wedge join) would
        # otherwise run that many near-empty tasks per stage, and on
        # big graphs the explicit width keeps the wedge join's
        # exchanges sized to the data instead of the session conf.
        parts = max(
            1,
            min(
                int(spark.conf.get("spark.sql.shuffle.partitions")),
                n_edges // 1_000_000 + 1,
            ),
        )
        # deg feeds both orientation joins and the wedge aggregate; ori
        # feeds the wedge self-join, the closing probe and the edge count
        with _persisted(e.repartition(parts)) as ep, _persisted(
            _degrees(ep)
        ) as deg, _persisted(_orient(ep, deg)) as ori:
            # ONE action for all four scalars: the three 1-row
            # aggregates are crossJoined (each side a broadcast of a
            # single row), so they materialize in a single job
            stats = (
                deg.agg(
                    F.count("*").cast("long").alias("n_nodes"),
                    F.sum(F.expr("deg * (deg - 1) div 2"))
                    .cast("long")
                    .alias("n_wedges"),
                )
                .crossJoin(ori.agg(F.count("*").cast("long").alias("n_edges")))
                .crossJoin(
                    _close_wedges(ori).agg(
                        F.count("*").cast("long").alias("n_triangles")
                    )
                )
                .collect()[0]
            )
        return spark.createDataFrame(
            [
                (
                    stats["n_nodes"],
                    stats["n_edges"],
                    stats["n_wedges"] or 0,
                    stats["n_triangles"],
                )
            ],
            _CENSUS,
        )

    rows = _run_edge_kernel(
        edges.select("a", "b"),
        _triangle_single_task_kernel(),
        _CENSUS,
        distributed,
    ).collect()
    # an empty graph can plan the kernel's repartition to zero
    # partitions, and then no census row comes back at all
    n_nodes, n_edges, n_w, n_t = rows[0] if rows else (0, 0, 0, 0)
    ratio = 3.0 * float(n_t) / float(n_w) if n_w else 0.0
    return spark.createDataFrame(
        [(n_nodes, n_edges, n_w, n_t, ratio)],
        _CENSUS + ", closure_ratio double",
    )
