"""Connected components over a pair frame — dedup cluster canonicalization.

Near-dup detection (MinHash-LSH, SimHash, embedding-LSH — see
operators/dedup.py, operators/similarity.py) emits PAIRS, but a dedup
pipeline keeps one document per transitive CLUSTER: if A~B and B~C,
all three are one group even when A and C never collide. This
operator closes the pair relation into components and labels every
member with the component's minimum id — the canonical survivor key.

One kernel, `connected_components`, with two physical strategies
picked by the observed edge count (one limit-probe collect):

* small graph (at most SMALL_GRAPH_EDGES edges, the common near-dup
  case): the probe already holds every edge, and a driver-side
  union-find by min root closes it with no further Spark job;
* large graph: iterated min-label propagation with path compression
  (pointer jumping), the textbook distributed-CC shape (Kiveris et
  al., "Connected Components in MapReduce and Beyond", SoCC'14):

    label(v) := v
    repeat:
      label(v) := min(label(v), min over neighbors u of label(u))
      label(v) := label(label(v))          # path compression
    until no label changed

Each distributed round is two shuffles keyed on node ids: one
neighbor-min aggregation over the (static) symmetric edge frame and
one label-to-label join; path compression makes convergence
logarithmic in component diameter rather than linear. The fixpoint
check is a driver-side scalar (count of changed labels) — one tiny
action per round, never a collect of data rows.

Lineage MUST be truncated every round: each round's plan references
the previous labels frame three times, so without truncation the
logical plan grows 3^rounds and Catalyst planning time — not
execution — dominates (measured: 1.8 s -> 126 s/round by round 4 on
a 256-node graph with persist() alone). `localCheckpoint(eager=True)`
materializes the round's labels and cuts the plan back to a leaf.
On a multi-executor cluster prefer reliable `checkpoint()` (set
`spark.sparkContext.setCheckpointDir`) — localCheckpoint pins blocks
to executors and does not survive executor loss.

Scale shape at 100 TB: the edge frame shuffles on (u) and the label
frame on (node) every round; both are linear in |E| and |V|. Rounds
are O(log d) for diameter d — near-dup graphs are dominated by dense
small clusters (d tiny), so 3-5 rounds in practice. Peak state is the
symmetric edge frame plus two label snapshots.

Determinism: min() over ids — no randomness, no tie-break ambiguity;
both strategies return the unique min-reachable-id labelling (a node
whose only edge is a self-loop labels itself), which is what the
DuckDB recursive-CTE oracle computes independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark import StorageLevel

DEFAULT_MAX_ROUNDS = 50

# Below this edge count the closure is computed with a driver-side
# union-find instead of iterated Spark jobs. A near-dup graph is tiny
# relative to its corpus (pairs survive LSH + verification), so the
# common case lands here. Sized to measured PYTHON-side memory, not
# the JVM estimate: edges arrive as an Arrow table whose columns
# become two plain-object lists (~60-100 B per long/str node in
# CPython) plus the parent dict (~2× again) — 500k edges keeps the
# whole structure under ~200 MB even with string ids. Big graphs
# (pathological boilerplate clusters at 100 TB) take the distributed
# loop unchanged.
SMALL_GRAPH_EDGES = 500_000


def _min_label_table(tbl):
    """Min-label closure of a SMALL collected Arrow edge table
    (column 0 = src, column 1 = dst), computed on the driver;
    returns a (node, label) Arrow table with the input's id type.

    Union-by-min-root + path compression: the root of every set is
    the minimum id seen in it, so labels equal the distributed
    loop's min-reachable-id labelling exactly. Deterministic —
    no iteration order sensitivity (the final find() fully resolves
    every chain). Arrow transfer, not collect(): pyspark Row objects
    cost ~10× the payload in driver memory; Arrow columns + to_pylist
    keep the envelope at plain-object size (see SMALL_GRAPH_EDGES
    sizing)."""
    src_vals = tbl.column(0).to_pylist()
    dst_vals = tbl.column(1).to_pylist()
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(src_vals, dst_vals):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra  # larger root under smaller -> root == min

    import pyarrow as pa

    nodes = list(parent)
    arrow_t = tbl.schema.field(0).type
    return pa.table(
        {
            "node": pa.array(nodes, arrow_t),
            "label": pa.array([find(n) for n in nodes], arrow_t),
        }
    )


def _union_find_arrow(spark, tbl, node_type) -> DataFrame:
    """_min_label_table as a driver-local Spark frame.

    The labels go back as an ARROW table, not a Python list:
    createDataFrame(list) parallelizes into defaultParallelism
    pickled slices whose per-row Python verification re-runs in
    every downstream job — measured 4-8 s (vs ~0.2 s via Arrow)
    when a consumer coalesces the frame into one task, as the
    funnel's exchange-free store write does. The Arrow path
    round-trips through the same columnar layout the probe
    collected, so types match `node_type` exactly. NOTE the result
    is a LocalTableScan — every job that references it embeds the
    data in its task binary; a caller that holds GROWING label state
    across many jobs (the streaming funnel's epoch axis) must spill
    past a threshold instead (curation_stream.py::_uf_labels)."""
    from pyspark.sql.types import StructField, StructType

    return spark.createDataFrame(
        _min_label_table(tbl),
        StructType(
            [StructField("node", node_type), StructField("label", node_type)]
        ),
    )


def connected_components(
    edges: DataFrame,
    *,
    src: str = "doc_id_a",
    dst: str = "doc_id_b",
    max_rounds: int = DEFAULT_MAX_ROUNDS,
) -> DataFrame:
    """(node, label) for every node incident to an edge; label is the
    minimum node id reachable from the node (its component's id).

    ADAPTIVE kernel: one limit-probe collect over the persisted edge
    frame picks the physical strategy AND, in the common small case,
    already holds the rows — a driver union-find when the graph fits
    the SMALL_GRAPH_EDGES envelope (each distributed round costs
    ~0.5 s of fixed job overhead; a 571-edge graph was paying 7
    rounds of it), the iterated min-label propagation loop otherwise.
    Both produce the identical min-reachable-id labelling
    (`test_cluster.py` pins small ≡ distributed). Above the envelope
    the probe's collected cap+1 rows are discarded — a bounded cost
    (the envelope's own sizing) paid once before the distributed
    loop. The module constant is read at call time: tests
    monkeypatch it to force the distributed loop.

    Raises RuntimeError if the fixpoint is not reached in
    `max_rounds` — with path compression that means a component of
    diameter ~2^max_rounds, i.e. corrupt input, not real data.
    """
    # probe the RAW edge frame, not a symmetrized expansion: union
    # find is orientation-blind (union(a, b) == union(b, a)), so the
    # small path needs each edge once — half the probe bytes and no
    # explode. The persisted raw frame also backs the distributed
    # path, whose symmetrized view is a narrow explode over the cache
    # (re-deriving it per round reads cached partitions, it never
    # recomputes the upstream edge pipeline).
    raw = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # ONE action decides the path AND, in the common small case,
    # already holds every row: CollectLimitExec streams partitions to
    # the driver until the limit is hit, so a graph under the envelope
    # is fully collected by the probe itself (the count-then-collect
    # shape paid a second full job for the same bytes).
    head = raw.limit(SMALL_GRAPH_EDGES + 1).toArrow()
    if head.num_rows <= SMALL_GRAPH_EDGES:
        node_type = raw.schema.fields[0].dataType
        try:
            return _union_find_arrow(raw.sparkSession, head, node_type)
        finally:
            raw.unpersist()
    sym = (
        raw.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(
                        F.col("v").alias("u"), F.col("u").alias("v")
                    ),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
    )
    # On the large-graph path the probe stopped scanning at cap+1
    # rows, so raw's persist is only partially populated here; the
    # EAGER localCheckpoint below scans every row of sym (distinct
    # over u, which reads all of raw), completing the persist in this
    # one job — round 1's join starts from fully cached partitions,
    # the up-front materialization the pre-probe count() used to
    # provide.
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(max_rounds):
            nbr_min = (
                sym.join(
                    labels.select(
                        F.col("node").alias("v"), F.col("label").alias("vlabel")
                    ),
                    on="v",
                )
                .groupBy("u")
                .agg(F.min("vlabel").alias("nmin"))
            )
            stepped = labels.join(
                nbr_min, labels["node"] == nbr_min["u"], "left"
            ).select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
            # path compression: follow the label one hop (label(label))
            compressed = (
                stepped.join(
                    labels.select(
                        F.col("node").alias("label"),
                        F.col("label").alias("parent"),
                    ),
                    on="label",
                    how="left",
                )
                .select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce(F.col("parent"), F.col("label"))
                    ).alias("label"),
                )
                # truncate lineage — see module docstring; persist()
                # alone leaves an exponentially-growing logical plan
                .localCheckpoint(eager=True)
            )
            changed = (
                compressed.join(
                    labels.select("node", F.col("label").alias("old")), on="node"
                )
                .where(F.col("label") != F.col("old"))
                .limit(1)
                .count()
            )
            labels = compressed
            if changed == 0:
                return labels
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    finally:
        raw.unpersist()


def cluster_members(
    edges: DataFrame,
    *,
    src: str = "doc_id_a",
    dst: str = "doc_id_b",
    id_out: str = "doc_id",
    cluster_out: str = "cluster_id",
    size_out: str = "cluster_size",
) -> DataFrame:
    """(doc_id, cluster_id, cluster_size) for every clustered doc.

    cluster_size rides a second aggregation + broadcastable join on
    the label (cluster count ≪ node count), not a window — a window
    over cluster_id would re-sort the node frame for a value the
    aggregate already knows.
    """
    labels = connected_components(edges, src=src, dst=dst)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias(size_out))
    return labels.join(F.broadcast(sizes), on="label").select(
        F.col("node").alias(id_out),
        F.col("label").alias(cluster_out),
        F.col(size_out).cast("long").alias(size_out),
    )
