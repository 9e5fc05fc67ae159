"""Two-tier solvers for condensed boundary/link graphs.

The hydro/clump operators condense their grid problems to boundary-sized
graphs (entry cells, stream links, label equivalences).  Every solver here
owns BOTH tiers behind ONE guard, DRIVER_ROWS (read at call time, so one
patch drives every tier): `collect_guarded` fetches at most DRIVER_ROWS + 1
rows in one job; within the guard the graph is solved on the driver into an
Arrow-built local table (callers broadcast it when `isLocal()`), past it
the SAME solve runs distributed —

  graph_masses     every accumulation's border system, one Kahn kernel:
                   exact sums or max-plus over the D8 family's functional
                   DAG, weighted sums (route_linear) over the MFD
                   accumulations' linear responses.  One group on the
                   driver, else recursive super-tile condensation — each
                   level solves the groups of a fanout-times-larger
                   spatial cell with the same kernel and forwards
                   cross-group carries and responses to a graph with
                   ~fanout-times fewer nodes, until the guard is met
                   (O(log_fanout) levels, two passes per level).
  chase_paths      per node of a functional forest, the terminal cell and
                   the path weight sum (watershed labels, flowpath
                   remainders): numpy rounds from the terminals upward,
                   else weighted pointer jumping in O(log path) rounds.
  solve_links      frontier Kahn over the stream-link DAG (Strahler /
                   Shreve) + pred-chain pointer doubling for the main stem
                   (its driver tier is hydro.stream_network's).
  merge_labels     min-label closure of equivalence pairs: the one
                   union-find over collected pairs (min_label_roots, also
                   hydro.stream_network's driver tier), else hook +
                   shortcut rounds (a Shiloach-Vishkin-style CC).

stream_network and cost_pathway probe through the same guard.

The loop solvers cut each round's state with `_checkpoint`: a local
checkpoint re-wrapped WITHOUT the origin plan's size estimate.  A bare
`localCheckpoint()` keeps that estimate, and each self-join multiplies both
sides' estimates, so it squares every round; planning with the resulting
multi-million-digit BigInts came to dominate the rounds.

Reference parity: the sequential solves of FlowAccumD8.java:282-330,
FlowAccumFD8.java / FlowAccumDinf.java / FlowAccumMDInf.java,
Watershed.java, DownslopeFlowpathLength.java, StreamOrder.java:364 /
StreamMagnitude.java / FindMainStem.java:347 and Clump.java:131-206.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import _scratch
from .raster import tile_map

DRIVER_ROWS = 5_000_000  # the one driver-tier guard (condensed rows)

EDGE_SCHEMA = (  # graph_masses' edge rows; {} = val type
    "row long, col long, x_row long, x_col long, val {}, w double, kind int"
)
_WHOLE_GRID = 1 << 62  # group cell that puts every node in one group
_MAX_LEVELS = 24
_MAX_ROUNDS = 64
_STATE_DOUBLES = 1 << 22  # a weighted solve's dense working set (32 MB)


def collect_guarded(df: DataFrame, scale: int = 1) -> pd.DataFrame | None:
    """The driver-tier guard, one job: `df` as pandas when it has at most
    scale * DRIVER_ROWS rows, else None (the over-limit fetch of
    guard + 1 rows is discarded and the caller runs its distributed tier)."""
    cap = scale * DRIVER_ROWS
    head = df.limit(cap + 1).toPandas()
    return head if len(head) <= cap else None


def _checkpoint(df: DataFrame, tag: str) -> DataFrame:
    """`df` local-checkpointed (tracked under `tag` for release) in a plan
    with no inherited size estimate (module docstring)."""
    spark = df.sparkSession
    ckpt = _scratch.track(spark, df.localCheckpoint(), tag)
    jdf = spark._jsparkSession.internalCreateDataFrame(
        ckpt._jdf.queryExecution().toRdd(), ckpt._jdf.schema(), False
    )
    return DataFrame(jdf, spark)


# ---------------------------------------------------------------------------
# Kahn routing: functional forests (the D8 family) and weighted graphs (MFD)
# ---------------------------------------------------------------------------
def route_functional(val: np.ndarray, tgt: np.ndarray, internal: np.ndarray,
                     w: np.ndarray, is_max: bool) -> None:
    """Route ``val`` down the functional forest v -> tgt[v] (where
    ``internal``) in place, by Kahn wavefronts (the reference's own
    upstream-count scheduling, FlowAccumD8.java:282-330, vectorized): sum,
    or max-plus with edge weight w."""
    n = len(val)
    indeg = np.bincount(tgt[internal], minlength=n)
    routed = np.zeros(n, dtype=bool)
    frontier = np.flatnonzero(indeg == 0)
    while frontier.size:
        routed[frontier] = True
        fe = frontier[internal[frontier]]
        t = tgt[fe]
        if is_max:
            np.maximum.at(val, t, val[fe] + w[fe])
        else:
            np.add.at(val, t, val[fe])
        indeg = indeg - np.bincount(t, minlength=n)
        frontier = np.flatnonzero((indeg == 0) & ~routed)


def chain_ends(tgt: np.ndarray, internal: np.ndarray, w: np.ndarray):
    """(dest, dd) per node of the functional forest v -> tgt[v] (where
    ``internal``): the end of its chain and the chain's weight sum, by
    weighted pointer jumping (chain ends are zero-weight self-loops)."""
    dest = np.where(internal, tgt, np.arange(len(tgt)))
    dd = np.where(internal, w, 0.0)
    while True:
        nd = dest[dest]
        if np.array_equal(nd, dest):
            return dest, dd
        dd = dd + dd[dest]
        dest = nd


def route_linear(state: np.ndarray, src: np.ndarray, tgt: np.ndarray,
                 coef: np.ndarray, off: np.ndarray | None = None) -> None:
    """Route ``state`` (nodes x columns) over the weighted edges src -> tgt,
    in place: state[t] = state0[t] + sum over t's in-edges of
    coef * (state[s] - off[s]), where ``off`` (per source node, default 0)
    applies to column 0 only.  Column 0 is the affine mass, the others are
    pure linear responses (superposition).

    Kahn wavefronts route each node once its in-edges are final, adding in
    edge order within a wavefront.  Weights can cycle (a D-infinity facet
    component may point to a HIGHER neighbor), which strands those nodes in
    the Kahn; their subgraph is closed upstream (no stranded -> routed edge
    can exist), so it is relaxed by Jacobi sweeps to its geometric fixpoint
    (cycle gain < 1)."""
    n = len(state)
    order = np.argsort(src, kind="stable")
    start = np.concatenate([[0], np.cumsum(np.bincount(src, minlength=n))])
    step = max(1, _STATE_DOUBLES // state.shape[1])  # caps the temp

    def send(nodes, into):
        cnt = start[nodes + 1] - start[nodes]
        e = np.sort(order[np.repeat(start[nodes] - np.cumsum(cnt) + cnt, cnt)
                          + np.arange(cnt.sum())])
        for i in range(0, e.size, step):
            ec = e[i:i + step]
            s = src[ec]
            out = state[s] * coef[ec, None]
            if off is not None:
                out[:, 0] = coef[ec] * (state[s, 0] - off[s])
            np.add.at(into, tgt[ec], out)
        return tgt[e]

    indeg = np.bincount(tgt, minlength=n)
    routed = np.zeros(n, dtype=bool)
    frontier = np.flatnonzero(indeg == 0)
    while frontier.size:
        routed[frontier] = True
        indeg = indeg - np.bincount(send(frontier, state), minlength=n)
        frontier = np.flatnonzero((indeg == 0) & ~routed)
    rem = np.flatnonzero(~routed)
    if rem.size:
        base = state.copy()
        for _ in range(10_000):
            new = base.copy()
            send(rem, new)
            delta = np.abs(new[rem] - state[rem]).max()
            state[rem] = new[rem]
            if delta <= 1e-12:
                break


def solve_with_exits(node: np.ndarray, base: np.ndarray, src: np.ndarray,
                     tgt: np.ndarray, x: np.ndarray, coef: np.ndarray,
                     ps: np.ndarray, off: np.ndarray | None = None):
    """Weighted solve (route_linear) of the nodes at cells ``node`` (2, n)
    with mass ``base``; an edge src -> tgt with tgt < 0 leaves the node set
    for the cell x[:, e], and each such cell is an exit, one more node that
    only receives.  ``off`` as in route_linear.  Returns (mass, rows): the
    nodes' masses and the exits as graph_masses edge rows — per exit a
    kind-1 carry of the mass sent there, per node ps[k] a kind-2 forward
    with each nonzero response of an exit to a unit inflow at ps[k].  The
    response columns are routed in blocks, so the dense state stays under
    _STATE_DOUBLES however long ``ps`` is."""
    n = len(base)
    out = tgt < 0
    ex, xi = np.unique(x[:, out], axis=1, return_inverse=True)
    tgt = tgt.copy()
    tgt[out] = n + xi.reshape(-1)
    m = n + ex.shape[1]
    block = max(1, _STATE_DOUBLES // max(m, 1) - 1)
    hit = []
    for k0 in range(0, max(ps.size, 1), block):
        cols = ps[k0:k0 + block]
        state = np.zeros((m, 1 + cols.size))
        state[cols, 1 + np.arange(cols.size)] = 1.0
        state[:n, 0] = 0.0 if k0 else base  # the mass rides in block 0 only
        route_linear(state, src, tgt, coef, None if k0 else off)
        if k0 == 0:
            mass, carry = state[:n, 0].copy(), state[n:, 0].copy()
        i, k = np.nonzero(state[n:, 1:])
        hit.append((i, k0 + k, state[n + i, 1 + k]))
    i, k, w = (np.concatenate(a) for a in zip(*hit))
    null = np.full(len(carry), -1, dtype=np.int64)
    return mass, pd.DataFrame({
        "row": np.concatenate([null, node[0, ps[k]]]),
        "col": np.concatenate([null, node[1, ps[k]]]),
        "x_row": np.concatenate([ex[0], ex[0, i]]),
        "x_col": np.concatenate([ex[1], ex[1, i]]),
        "val": np.concatenate([carry, np.zeros(k.size)]),
        "w": np.concatenate([np.zeros(len(carry)), w]),
        "kind": np.repeat(np.array([1, 2], dtype=np.int32), [len(carry), k.size]),
    })


# ---------------------------------------------------------------------------
# recursive mass/max solve over a spatial graph
# ---------------------------------------------------------------------------
def _group_kernel(group_cell: int, is_max: bool, weighted: bool,
                  transit: bool = True):
    """Per-super-group solve over the group's edge rows (graph_masses
    format).  Nodes are the carry targets, base = their carries' sum (max).
    Emits kind 0 = per-node through value and, with ``transit``, the next
    level's rows: kind 1 = carry across the group boundary, kind 2 = the
    response of each node on an inner group perimeter to a unit inflow
    there.  On a functional graph that is one row per node: where its
    in-group chain exits the group, with accumulated chain weight.  On a
    weighted one it is one row per cross-group target the node reaches,
    with its coefficient (solve_with_exits)."""
    g = group_cell

    def kernel(key, pdf):
        if weighted:  # float sums: one add order whatever the row order
            pdf = pdf.sort_values(["kind", "x_row", "x_col", "row", "col", "val"])
        kind = pdf["kind"].to_numpy()
        base = (pdf[kind == 1].groupby(["x_row", "x_col"])["val"]
                .agg("max" if is_max else "sum"))
        at = base.index
        rr = at.get_level_values(0).to_numpy(np.int64)
        cc = at.get_level_values(1).to_numpy(np.int64)
        n = len(rr)
        fwd = pdf[kind == 2]
        src = at.get_indexer(pd.MultiIndex.from_arrays([fwd["row"], fwd["col"]]))
        fwd, src = fwd[src >= 0], src[src >= 0]
        fr = fwd["x_row"].to_numpy(np.int64)
        fc = fwd["x_col"].to_numpy(np.int64)
        w = fwd["w"].to_numpy(np.float64)
        # in-group forwards (a terminal's x = -1 lies in no group)
        ing = (fr // g == rr[src] // g) & (fc // g == cc[src] // g)
        tgt = np.where(ing, at.get_indexer(pd.MultiIndex.from_arrays([fr, fc])), -1)
        cross = (fr >= 0) & (tgt < 0)
        # a carry target is D8-adjacent to a cell of another group, so only
        # nodes on a perimeter facing another group can be next-level nodes
        ps = np.flatnonzero(
            ((rr % g == 0) & (rr > 0)) | (rr % g == g - 1)
            | ((cc % g == 0) & (cc > 0)) | (cc % g == g - 1)
        ) if transit else np.zeros(0, dtype=np.int64)
        null = np.int64(-1)

        if weighted:
            live = (tgt >= 0) | cross
            thr, exits = solve_with_exits(
                np.stack([rr, cc]), base.to_numpy(np.float64), src[live],
                tgt[live], np.stack([fr, fc])[:, live], w[live], ps,
            )
        else:
            thr = base.to_numpy(np.float64 if is_max else np.int64).copy()
            # at most one forward row per node: index the edges by node
            ie = tgt >= 0
            nxt, internal = np.full(n, -1), np.zeros(n, dtype=bool)
            nxt[src[ie]], internal[src[ie]] = tgt[ie], True
            wn, out_r, out_c = np.zeros(n), np.full(n, null), np.full(n, null)
            wn[src], out_r[src[cross]], out_c[src[cross]] = w, fr[cross], fc[cross]
            route_functional(thr, nxt, internal, wn, is_max)

        parts = [pd.DataFrame({
            "row": rr, "col": cc,
            "x_row": np.full(n, null), "x_col": np.full(n, null),
            "val": thr, "w": np.zeros(n),
            "kind": np.zeros(n, dtype=np.int32),
        })]
        if not transit:
            return parts[0]
        if weighted:
            return pd.concat([parts[0], exits], ignore_index=True)

        # transit: where each node's in-group chain ends, and its weight
        dest, dd = chain_ends(nxt, internal, wn)
        chain_w = dd + np.where(out_r >= 0, wn, 0.0)[dest]
        xs = np.flatnonzero(out_r >= 0)
        exits = out_r[dest] >= 0
        if xs.size:
            parts.append(pd.DataFrame({
                "row": rr[xs], "col": cc[xs], "x_row": out_r[xs], "x_col": out_c[xs],
                "val": thr[xs] + wn[xs] if is_max else thr[xs],
                "w": np.zeros(xs.size),
                "kind": np.full(xs.size, 1, dtype=np.int32),
            }))
        parts.append(pd.DataFrame({
            "row": rr[ps], "col": cc[ps],
            "x_row": np.where(exits, out_r[dest], null)[ps],
            "x_col": np.where(exits, out_c[dest], null)[ps],
            "val": np.zeros(ps.size, dtype=thr.dtype), "w": chain_w[ps],
            "kind": np.full(ps.size, 2, dtype=np.int32),
        }))
        return pd.concat(parts, ignore_index=True)

    return kernel


def _grouped(edges: DataFrame, g: int, kernel, schema: str) -> DataFrame:
    """``kernel`` over each group's edge rows (raster.tile_map), keyed
    (_gr, _gc) by the group of the node a row describes: a carry by its
    target's group, a forward by its own."""
    kr = F.when(F.col("kind") == 1, F.col("x_row")).otherwise(F.col("row"))
    kc = F.when(F.col("kind") == 1, F.col("x_col")).otherwise(F.col("col"))
    keyed = edges.select("*", (kr / g).cast("long").alias("_gr"),
                         (kc / g).cast("long").alias("_gc"))
    return tile_map(keyed, ["_gr", "_gc"], kernel, schema)


def graph_masses(edges: DataFrame, *, group_cell: int,
                 is_max: bool = False, fanout: int = 8,
                 _level: int = 0) -> DataFrame:
    """Through-value per node of a spatial graph.

    edges: (row, col, x_row, x_col, val, w, kind) —
      kind 1: a carry of val from (row, col) into node (x_row, x_col);
      kind 2: node (row, col) forwards to (x_row, x_col) with edge weight w
              (x_row = -1 for terminal nodes).
    Nodes are the carry targets, base = the sum (max) of their carries, and
    a forward target is D8-adjacent to a cell of the forwarding node's group.
    The type of val picks the mode:
      long, sum:   a functional DAG (one forward row per node, w ignored),
                   mass[t] = base[t] + sum of predecessors' mass, exact;
      double, max: a functional DAG with path weights,
                   mass[t] = max(base[t], max of predecessors' mass + w);
      double, sum: weighted forwards (any number per node, cycles allowed),
                   mass[t] = base[t] + sum of w(p -> t) * mass[p].
    Returns (row, col, mass).

    Both tiers run the same group kernel.  Edge rows under the driver guard
    are collected once and solved as one group on the driver into a local
    table (no further Spark job).  Past the guard: solve per spatial
    super-group (raster.tile_map: one Python call per partition), forward
    cross-group carries and each perimeter node's response to a unit
    inflow as a ~fanout-times smaller graph, recurse until the guard is
    met, then rerun each group with the solved external inflow as one more
    carry.  A weighted group's dense state is bounded
    (solve_with_exits); its response rows grow with its perimeter squared.
    """
    spark = edges.sparkSession
    vt = edges.schema["val"].dataType.simpleString()
    weighted = vt == "double" and not is_max
    head = collect_guarded(edges)
    if head is not None:
        out = _group_kernel(_WHOLE_GRID, is_max, weighted, False)(None, head)
        # via Arrow so that an empty result is a local table too
        return spark.createDataFrame(pa.Table.from_pandas(
            out[["row", "col", "val"]], preserve_index=False
        ).rename_columns(["row", "col", "mass"]))
    if _level >= _MAX_LEVELS:
        raise RuntimeError("graph_masses: condensation failed to shrink")

    tag = f"condense{_level}"
    _scratch.release(spark, tag)
    # read twice more below (pass A, pass B): computed once past the probe
    edges = _scratch.track(spark, edges.persist(), tag)
    g = int(group_cell)
    schema = EDGE_SCHEMA.format(vt)
    pass_a = _scratch.track(
        spark,
        _grouped(edges, g, _group_kernel(g, is_max, weighted), schema).persist(),
        tag,
    )
    mass2 = graph_masses(
        pass_a.where(F.col("kind") >= 1), group_cell=g * fanout,
        is_max=is_max, fanout=fanout, _level=_level + 1,
    )
    null = F.lit(-1).cast("long")
    inflow = mass2.select(
        null.alias("row"), null.alias("col"),
        F.col("row").alias("x_row"), F.col("col").alias("x_col"),
        F.col("mass").alias("val"), F.lit(0.0).alias("w"),
        F.lit(1).alias("kind"),
    )
    pass_b = _grouped(edges.unionByName(inflow), g,
                      _group_kernel(g, is_max, weighted, False), schema)
    return pass_b.select("row", "col", F.col("val").alias("mass"))


# ---------------------------------------------------------------------------
# terminal and path weight over a functional forest (transit chase)
# ---------------------------------------------------------------------------
def _chase_local(head: pd.DataFrame) -> pa.Table:
    """Driver tier of chase_paths: numpy rounds from the terminals upward,
    total[v] = w[v] + total[next[v]] and term[v] = term[next[v]] once
    next[v] is resolved — per node the same adds, in the same order, as a
    sequential chase."""
    rr = head["row"].to_numpy(np.int64)
    cc = head["col"].to_numpy(np.int64)
    tr = head["t_row"].to_numpy(np.int64)
    tc = head["t_col"].to_numpy(np.int64)
    fwd = tr >= 0
    at = pd.MultiIndex.from_arrays([rr, cc]).get_indexer(
        pd.MultiIndex.from_arrays([tr, tc]))
    nxt = np.where(fwd, at, -1)
    total = head["w"].to_numpy(np.float64).copy()
    # a target missing from the table terminates at that target cell
    term_r = np.where(fwd, tr, head["p_row"].to_numpy(np.int64))
    term_c = np.where(fwd, tc, head["p_col"].to_numpy(np.int64))
    done = nxt < 0
    todo = np.flatnonzero(~done)
    while todo.size:
        ready = todo[done[nxt[todo]]]
        if not ready.size:
            raise RuntimeError("chase_paths: no progress (cycle?)")
        t = nxt[ready]
        total[ready] = total[ready] + total[t]
        term_r[ready] = term_r[t]
        term_c[ready] = term_c[t]
        done[ready] = True
        todo = todo[~done[todo]]
    return pa.table({"row": rr, "col": cc, "total": total,
                     "term_row": term_r, "term_col": term_c})


def chase_paths(fwd: DataFrame) -> DataFrame:
    """fwd: (row, col, t_row, t_col, w, p_row, p_col) — each node forwards
    to (t_row, t_col) with path weight w, or terminates (t_row = -1) at
    terminal cell (p_row, p_col); a forward target missing from fwd
    terminates there.

    Returns (row, col, total double, term_row, term_col): accumulated chain
    weight to termination and the terminal cell.  Within the guard the rows
    are collected once and chased on the driver into a local table
    (_chase_local); past it, Wyllie path doubling in O(log chain) rounds
    over the condensed frame.  Both tiers raise on a cycle."""
    spark = fwd.sparkSession
    head = collect_guarded(fwd)
    if head is not None:
        return spark.createDataFrame(_chase_local(head))
    _scratch.release(spark, "chase")
    state = fwd.select(
        "row", "col",
        F.col("t_row").alias("nr"), F.col("t_col").alias("nc"),
        F.col("w").cast("double").alias("acc"),
        F.when(F.col("t_row") < 0, F.col("p_row")).otherwise(F.lit(-1)).alias("xr"),
        F.when(F.col("t_row") < 0, F.col("p_col")).otherwise(F.lit(-1)).alias("xc"),
        (F.col("t_row") < 0).alias("done"),
    )
    state = _checkpoint(state, "chase")
    n_live = None
    for _ in range(_MAX_ROUNDS):
        prev, n_live = n_live, state.where(~F.col("done")).count()
        if n_live == 0:
            break
        if n_live == prev:  # only cycles (and chains into them) are left
            raise RuntimeError("chase_paths: no progress (cycle?)")
        nxt = state.select(
            F.col("row").alias("_jr"), F.col("col").alias("_jc"),
            F.col("nr").alias("_nr2"), F.col("nc").alias("_nc2"),
            F.col("acc").alias("_acc2"),
            F.col("xr").alias("_xr2"), F.col("xc").alias("_xc2"),
            F.col("done").alias("_done2"),
        )
        live = state.where(~F.col("done")).join(
            nxt,
            (F.col("nr") == F.col("_jr")) & (F.col("nc") == F.col("_jc")),
            "left",
        ).select(
            "row", "col",
            F.coalesce("_nr2", F.lit(-1)).alias("nr"),
            F.coalesce("_nc2", F.lit(-1)).alias("nc"),
            (F.col("acc") + F.coalesce("_acc2", F.lit(0.0))).alias("acc"),
            # missing pointer target: terminate at the dangling cell itself
            F.coalesce("_xr2", F.col("nr")).alias("xr"),
            F.coalesce("_xc2", F.col("nc")).alias("xc"),
            F.coalesce("_done2", F.lit(True)).alias("done"),
        )
        state = _checkpoint(
            state.where(F.col("done")).unionByName(live), "chase"
        )
    else:
        raise RuntimeError("chase_paths did not converge (cycle?)")
    return state.select(
        "row", "col", F.col("acc").alias("total"),
        F.col("xr").alias("term_row"), F.col("xc").alias("term_col"),
    )


# ---------------------------------------------------------------------------
# stream-link DAG measures, distributed
# ---------------------------------------------------------------------------
def solve_links(links: DataFrame, dag: DataFrame) -> DataFrame:
    """links: (label); dag: (up, dn).  Returns (label, strahler, magnitude,
    main_stem) matching the driver Kahn in hydro.stream_network:

    Strahler/Shreve by frontier rounds (all links whose tributaries are all
    solved resolve together — rounds = junction depth of the network);
    main stem by pred-chain pointer doubling (best-tributary chains are
    vertex-disjoint paths, so each link's chain root is found in O(log)
    rounds; main iff the root is an outlet)."""
    spark = links.sparkSession
    _scratch.release(spark, "links")
    links = _checkpoint(links.select("label"), "links")
    dag = _checkpoint(dag, "links")
    need = dag.groupBy("dn").agg(F.count(F.lit(1)).alias("_need"))
    total = links.count()
    solved = links.join(
        need, links["label"] == need["dn"], "left_anti"
    ).select("label", F.lit(1).alias("strahler"), F.lit(1).alias("magnitude"))
    solved = _checkpoint(solved, "links")
    n_solved = solved.count()
    for _ in range(_MAX_ROUNDS):
        if n_solved >= total:
            break
        got = (
            dag.join(solved, dag["up"] == solved["label"], "inner")
            .groupBy("dn")
            .agg(
                F.count(F.lit(1)).alias("_got"),
                F.sum("magnitude").alias("magnitude"),
                F.collect_list("strahler").alias("_ss"),
            )
        )
        mx = F.array_max("_ss")
        tie = F.size(F.filter("_ss", lambda x: x == mx)) >= 2
        new = (
            got.join(need, "dn", "inner")
            .where(F.col("_got") == F.col("_need"))
            .select(
                F.col("dn").alias("label"),
                F.when(tie, mx + 1).otherwise(mx).cast("int").alias("strahler"),
                F.col("magnitude").cast("int").alias("magnitude"),
            )
        )
        # only links not yet solved are new (got==need happens exactly once)
        solved = _checkpoint(solved.unionByName(new), "links")
        prev, n_solved = n_solved, solved.count()
        if n_solved == prev:
            raise RuntimeError("solve_links: no progress (cyclic link DAG?)")
    else:
        raise RuntimeError("solve_links exceeded round cap")

    # main stem: per junction pick the max-(magnitude, -up) tributary; the
    # picked edges form disjoint chains; a link is main iff its pred-chain
    # root is an outlet (link with no downstream edge).
    bu = (
        dag.join(
            solved.select(F.col("label").alias("up"), "magnitude"), "up", "inner"
        )
        .groupBy("dn")
        .agg(F.expr("max_by(up, struct(magnitude, -up))").alias("bu"))
    )
    pred = bu.select(F.col("bu").alias("label"), F.col("dn").alias("p"))
    state = links.join(pred, "label", "left").select(
        "label",
        F.coalesce("p", F.col("label")).alias("cur"),
        F.col("p").isNull().alias("done"),
    )
    state = _checkpoint(state, "links")
    for _ in range(_MAX_ROUNDS):
        if state.where(~F.col("done")).limit(1).count() == 0:
            break
        nxt = state.select(
            F.col("label").alias("_jl"),
            F.col("cur").alias("_cur2"), F.col("done").alias("_done2"),
        )
        live = state.where(~F.col("done")).join(
            nxt, F.col("cur") == F.col("_jl"), "inner"
        ).select(
            "label", F.col("_cur2").alias("cur"), F.col("_done2").alias("done")
        )
        state = _checkpoint(
            state.where(F.col("done")).unionByName(live), "links"
        )
    else:
        raise RuntimeError("solve_links main-stem chase exceeded round cap")
    outlets = links.join(
        dag.select(F.col("up").alias("label")), "label", "left_anti"
    ).select(F.col("label").alias("cur"), F.lit(True).alias("_is_outlet"))
    main = state.join(outlets, "cur", "left").select(
        "label", F.coalesce("_is_outlet", F.lit(False)).alias("main_stem")
    )
    out = solved.join(main, "label", "inner")
    return out


# ---------------------------------------------------------------------------
# equivalence-pair min-label closure (clump boundary merge)
# ---------------------------------------------------------------------------
def min_label_roots(a: np.ndarray, b: np.ndarray, nodes: np.ndarray) -> np.ndarray:
    """The min label of each of ``nodes``' components under the undirected
    pairs (a[i], b[i]): one path-compressed union-find on the driver whose
    roots are component minima.  A node in no pair keeps its own id."""
    par: dict = {}

    def find(x):
        root = x
        while par.get(root, root) != root:
            root = par[root]
        while par.get(x, x) != x:
            par[x], x = root, par[x]
        return root

    for a_, b_ in zip(a.tolist(), b.tolist()):
        ra, rb = find(a_), find(b_)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            par[rb] = ra  # min-value root => label = component min
    return np.fromiter(map(find, nodes.tolist()), np.int64, nodes.size)


def merge_labels(pairs: DataFrame) -> DataFrame:
    """pairs: (plabel, nplabel) undirected equivalences.  Returns (plabel,
    glabel) mapping every node appearing in a pair to the min label of its
    component.

    A pair set within the guard is solved on the driver by
    min_label_roots, the one union-find over collected pairs (the pair
    frame is already candidate-sized, orders of magnitude below the
    corpus), returned as a local table; past the guard, hook + shortcut
    rounds (Shiloach-Vishkin style) converge in O(log^2 component diameter)
    rounds over the pair-sized frame — the 100-TB path, soak-tested at 2 M
    docs (tools/soak.py)."""
    spark = pairs.sparkSession
    head = collect_guarded(pairs)
    if head is not None:
        av = head.iloc[:, 0].to_numpy(np.int64)
        bv = head.iloc[:, 1].to_numpy(np.int64)
        nodes = np.unique(np.concatenate([av, bv]))
        roots = min_label_roots(av, bv, nodes)
        return spark.createDataFrame(pa.table({"plabel": nodes, "glabel": roots}))
    _scratch.release(spark, "merge_labels")
    edges = pairs.select(F.col("plabel").alias("a"), F.col("nplabel").alias("b"))
    edges = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    edges = _checkpoint(edges, "merge_labels")
    parent = edges.groupBy("a").agg(
        F.least(F.min("b"), F.first("a")).alias("p")
    ).select(F.col("a").alias("n"), F.least("p", F.col("a")).alias("p"))
    parent = _checkpoint(parent, "merge_labels")
    for _ in range(_MAX_ROUNDS):
        # hook: p(v) <- min(p(v), min over neighbors' p)
        nb = (
            edges.join(parent, edges["b"] == parent["n"], "inner")
            .groupBy("a").agg(F.min("p").alias("_nbp"))
        )
        hooked = parent.join(nb, parent["n"] == nb["a"], "left").select(
            "n", F.least("p", F.coalesce("_nbp", F.col("p"))).alias("p")
        )
        # shortcut: p(v) <- p(p(v))
        pp = hooked.select(F.col("n").alias("_pn"), F.col("p").alias("_pp"))
        short = hooked.join(pp, hooked["p"] == pp["_pn"], "left").select(
            "n", F.least("p", F.coalesce("_pp", F.col("p"))).alias("p")
        )
        short = _checkpoint(short, "merge_labels")
        changed = (
            short.join(parent.select(F.col("n"), F.col("p").alias("_old")), "n")
            .where(F.col("p") != F.col("_old")).limit(1).count()
        )
        parent = short
        if changed == 0:
            break
    else:
        raise RuntimeError("merge_labels did not converge")
    return parent.select(F.col("n").alias("plabel"), F.col("p").alias("glabel"))
