"""Connected components over the verified-pair edge list.

The reference never needs real CC — its clusters ARE the key groups
(records sharing one blocking key, `/root/reference/notes/old_pipeline.md:23`).
Once multiple blocking strategies (LSH bands, SimHash buckets, containment)
can link records across blocks, transitive closure needs an actual CC
computation (SURVEY.md §2.9/§4) — this is the one genuinely custom
algorithm in the pipeline.

Algorithm: min-label edge contraction + pointer doubling on the COMPOSED
label map. Each round:

1. per current super-node, take the min over its closed neighborhood in
   the CONTRACTED graph and fold it into the cumulative node→label map;
2. pointer-double the cumulative map T times (label ← label(label));
3. relabel both edge endpoints through the map, drop self-loops, dedup.

Contraction handles random-id chains (local minima absorb their basins;
the surviving path shrinks geometrically) and doubling on the CUMULATIVE
map handles monotone-id chains (where contraction alone removes O(1)
nodes per round but the map's reach multiplies ~2^T per round). Each
mechanism alone has a linear-convergence pathology — measured on
1,000-node paths: static-edge min propagation with one hop (the previous
formulation here) needs >60 rounds on a shuffled-id path, and contraction
with only in-round jumps needs >25 on a monotone-id path; the composition
converges in ≤6 rounds on both. Web containment chains (A contains B
contains C …) are exactly these shapes at 100 TB, where every extra round
is a full shuffle+checkpoint. The edge set — the big side — SHRINKS every
round instead of being re-shuffled at full size per iteration.

Convergence is certain (every component contracts to its min, which is a
fixed point of every round map), so exhausting `max_iterations` means an
astronomically deep graph — that now raises instead of silently returning
partial labels. An empty edge set alone does not mean the labels are
final: doubling can label an id with a node that the contraction dropped
while that node's own label moved on (an ascending 18-node chain ended
with 17 -> 1 -> 0 and returned cluster 1 for node 17). After round 0 the
loop therefore also reads the label links (label, label(label)) that are
not fixed points, and stops only when edges plus links are finished.

Driver finish: the first write (`cc_edges_0`, the symmetrized input) and
every round's contraction observe their edge count. Once that count (plus
the label links, after round 0) is at or below `driver_edge_cap(spark)`
(a slice of `spark.driver.memory` and `spark.driver.maxResultSize`), the
remaining edges and links are collected through Arrow and finished on the
driver by a min-root union-find (path halving; the smaller root wins, so
every root is its component's minimum). That is the primitive of BTS,
"Load-Balanced Distributed Union-Find" (ICDE'24, PAPERS.md). Before
round 0 its result is the answer; mid-loop it is composed onto the
cumulative label map like a round map. Labels stay the component
minimum, so assignments do not change, and the finish only ever ends the
loop early: the round bound gets tighter (round 6 had rejected a cheaper
tail that loosened it, see `_JUMPS_PER_ROUND`). Python's `str` order
(code points) equals Spark's string order (UTF-8 bytes), so the minimum
is the same either way. The dedup workloads (2.7k-8.6k edges) finish
before round 0: one checkpoint write instead of five.

Each round is checkpointed to parquet via StageCheckpointer — a HARD
lineage cut. `DataFrame.localCheckpoint` chains measurably fail to cut
the recompute chain on Spark 4.1 (per-iteration cost grows ~3x per
iteration; see plans/checkpoint.py) — on a cluster these checkpoints are
the Iceberg stage tables that also make the loop resumable. Without a
caller's checkpointer the writes go to a fresh subdirectory of the
session's ephemeral checkpoint dir, removed with it at exit, or at once
when the driver finished before round 0 and the result reads no file.
"""

from __future__ import annotations

import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from fuzzycat_spark.plans.checkpoint import StageCheckpointer, scratch_checkpointer

# pointer-doubling steps per round on the cumulative map: reach grows
# ~(2^T)x per round ACROSS rounds (round k reaches ~2^(T(k+1)) on a
# monotone chain), so with T=3 a 10^9-node chain needs ~10 rounds even if
# contraction contributed nothing. Each step is one self-join of the
# fixed-width (id, label) map, fused into the round's single labels write.
_JUMPS_PER_ROUND = 3
# Round-6 experiment, measured then REVERTED: dropping to 1 jump/round
# once the contracted edge set is tiny (< ~4k rows) saved ~10% CC wall on
# the dedup tail (every jump self-joins the FULL label map regardless of
# how few edges remain) and produced byte-identical assignments — but it
# weakens the operator's round bound from ~log8 to ~log3 of the surviving
# chain depth, which the convergence tests pin (a 33-node chain must
# finish within 8 rounds). Bounded rounds are the contract; the tail
# savings were not worth trading it. The driver finish below takes the
# tail instead: it ends the loop early and never adds a round.

# driver memory budgeted per collected (directed) edge. The union-find runs
# in the Python driver, which `spark.driver.memory` does not bound; the JVM
# heap setting stands in for the driver machine's size. Measured at the cap
# of a 4g driver (514,944 edges of disjoint pairs, the most nodes an edge
# count allows; 4 vCPUs, local mode): the Python process's peak RSS grew
# 185 B per edge with 10-character ids and 332 B with 40-character ids,
# ~5 B per id character, so 1 KiB covers ids up to ~180 characters. The
# JVM heap peaked at 403 / 544 MB over the whole call, the `cc_edges_0`
# write included.
_DRIVER_BYTES_PER_EDGE = 1024


def driver_edge_cap(spark: SparkSession) -> int:
    """Most edges (directed, as the `cc_*` writes count them) that
    `connected_components` collects and finishes on the driver: an eighth
    of the driver heap, and at most half of `spark.driver.maxResultSize`
    (0 = unlimited), at `_DRIVER_BYTES_PER_EDGE` each. A 3g driver heap
    gives ~393k edges."""
    conf = spark.sparkContext.getConf()
    units = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
    budget = units.byteStringAsMb(conf.get("spark.driver.memory", "1g")) * 2**20 // 8
    result = units.byteStringAsBytes(conf.get("spark.driver.maxResultSize", "1g"))
    if result > 0:
        budget = min(budget, result // 2)
    return budget // _DRIVER_BYTES_PER_EDGE


def _min_root_union_find(src: list, dst: list) -> dict:
    """node -> component minimum over the undirected edges (src[i], dst[i])."""
    parent: dict = {}

    def find(x):
        p = parent.setdefault(x, x)
        while p != x:  # path halving
            gp = parent[p]
            parent[x] = gp
            x, p = gp, parent[gp]
        return x

    for a, b in zip(src, dst):
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra  # the smaller root wins
    return {x: find(x) for x in parent}


def _undirected(edges: DataFrame):
    """Each edge of a symmetric (src, dst) set once, as an Arrow table."""
    return edges.filter(F.col("src") <= F.col("dst")).toArrow()


def _chain_links(labels: DataFrame, limit: int):
    """Up to `limit` links (label, label(label)) of the cumulative map
    whose label is not its own label, as an Arrow table."""
    nxt = labels.select(F.col("id").alias("src"), F.col("label").alias("dst"))
    return (
        labels.select(F.col("label").alias("src"))
        .distinct()
        .join(nxt, on="src")
        .filter(F.col("src") != F.col("dst"))
        .limit(limit)
        .toArrow()
    )


def _driver_labels(
    spark: SparkSession, id_field: StructField, tables: list
) -> tuple[DataFrame, int]:
    """((node, root), node count): the component minimum of every node of
    the (src, dst) Arrow tables, union-found on the driver and handed back
    as a local relation on `spark` built from Arrow (no Python worker
    reruns on reuse)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    src = [v for t in tables for v in t.column("src").to_pylist()]
    dst = [v for t in tables for v in t.column("dst").to_pylist()]
    roots = _min_root_union_find(src, dst)
    id_type = to_arrow_type(id_field.dataType)
    table = pa.table(
        [pa.array(list(roots), id_type), pa.array(list(roots.values()), id_type)],
        names=["node", "root"],
    )
    schema = StructType(
        [StructField(n, id_field.dataType, id_field.nullable) for n in ("node", "root")]
    )
    return spark.createDataFrame(table, schema), len(roots)


def connected_components(
    edges: DataFrame,
    max_iterations: int = 25,
    id_a: str = "id_a",
    id_b: str = "id_b",
    checkpointer: StageCheckpointer | None = None,
) -> DataFrame:
    """Return (id, cluster_id) where cluster_id = min node id (lexicographic
    for strings) over each connected component of the undirected edge set.

    Nodes appearing only as singletons are absent (callers union them back
    with cluster_id = own id if needed). Raises RuntimeError if
    max_iterations rounds do not converge (practically unreachable —
    rounds needed ≈ log_8(diameter)).
    """
    spark = edges.sparkSession
    ck = checkpointer or scratch_checkpointer(spark, "cc_")
    cap = driver_edge_cap(spark)

    e = edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    eobs = Observation("cc_n_edges")
    # NO distinct on the symmetrized input: it cost a full shuffle+sort of
    # the largest table this loop ever touches and bought nothing — the
    # round-0 neighborhood min is duplicate-insensitive (groupBy), and the
    # first contraction's own distinct removes any input dups from the
    # surviving edge set. The write below is therefore shuffle-free.
    # Symmetrize with ONE Generate (each input row explodes into both
    # directions), not e.unionByName(e.swap): a union plans the upstream
    # subtree twice, and the caller's edge list is typically a LAZY verify
    # plan (dedup_stages no longer materializes the verified table), so
    # the union form re-ran the terminal verify tier + verdict dedup for
    # the second copy inside this checkpoint write. Measured on the sf0.1
    # components query (idle machine, interleaved, warm): 6.89s mean
    # union-form vs 6.12s explode-form; same row multiset either way.
    sym = ck.write(
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .observe(eobs, F.count(F.lit(1)).alias("n")),
        "cc_edges_0",
    )
    # the edge count rides on the cc_edges_0 write (Observation), not a
    # second job
    n_edges = int(eobs.get["n"])
    n_links = 0

    def finish(ckp: StageCheckpointer, tables: list, rounds: int) -> DataFrame:
        t0 = time.time()
        local, n_nodes = _driver_labels(spark, sym.schema["src"], tables)
        ckp.record_counters(
            "cc_local",
            {"edges": n_edges, "links": n_links, "nodes": n_nodes,
             "rounds": rounds, "seconds": round(time.time() - t0, 3)},
        )
        return local

    if n_edges <= cap:
        out = finish(ck, [_undirected(sym)] if n_edges else [], 0).select(
            F.col("node").alias("id"), F.col("root").alias("cluster_id")
        )
        if checkpointer is None:
            # the local relation reads no file: drop the scratch dir now, so
            # a long-running stream does not keep one per epoch until exit
            shutil.rmtree(ck.base_dir, ignore_errors=True)
        return out

    # size the loop's shuffles to the edge list, not the (much larger)
    # corpus: a per-round join over a few thousand edges at corpus-width
    # partitioning is pure scheduling overhead. ~100k edges per partition.
    # The reduced partition count lives in a CHILD session (newSession():
    # isolated SQL conf, shared SparkContext and block/cache state) — a
    # conf set on the CALLER's session would race any concurrent query on
    # it (streaming foreachBatch + an ad-hoc batch query is a realistic
    # pair).
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    loop_parts = max(1, min(int(prev_parts), n_edges // 100_000 + 1))
    loop = spark.newSession()
    loop.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    lck = StageCheckpointer(loop, base_dir=ck.base_dir, lineage=ck.lineage)
    lck.codec = ck.codec
    e_cur = loop.read.schema(sym.schema).parquet(ck.path("cc_edges_0"))

    labels: DataFrame | None = None
    for i in range(max_iterations):
        # per-super-node min over its closed neighborhood in the current
        # contracted graph (sym edges → every node appears as src)
        lab = (
            e_cur.groupBy("src")
            .agg(F.least(F.col("src"), F.min("dst")).alias("to"))
            .withColumnRenamed("src", "node")
        )
        if labels is None:
            labels = lab.select(
                F.col("node").alias("id"), F.col("to").alias("label")
            )
        else:
            # fold the round map into the cumulative one: label ← lab(label)
            # (left join: nodes in already-contracted components keep theirs)
            labels = labels.join(
                lab, labels["label"] == lab["node"], "left"
            ).select(
                "id", F.coalesce(F.col("to"), F.col("label")).alias("label")
            )
        # pointer doubling on the CUMULATIVE map: label ← label(label), T
        # times — reach compounds across rounds. All T self-joins fuse into
        # this round's one labels write job. Round 0 skips it: the dedup
        # workload's components are star/clique-shaped and finish in the
        # first contraction, so doubling there runs 3 self-joins over the
        # LARGEST (pre-contraction) labels map for nothing. Measured at 1M
        # edges/8 cores: star 7.5s → 5.4s (-28%), clique forest flat; the
        # adversarial 1M-node path pays one extra round (7 → 8, 69s →
        # 79s) — the worst-diameter shape trades ~15% for the realistic
        # shapes' win and still converges in log rounds.
        for _ in range(_JUMPS_PER_ROUND if i > 0 else 0):
            r = labels.select(F.col("id").alias("_n"), F.col("label").alias("_t"))
            labels = labels.join(r, labels["label"] == r["_n"], "left").select(
                "id", F.coalesce(F.col("_t"), F.col("label")).alias("label")
            )
        labels_name = f"cc_labels_{i % 2}"
        labels = lck.write(labels, labels_name)
        # contract: relabel both endpoints through the cumulative map, drop
        # self-loops, dedup. The edge set SHRINKS every round; the round
        # count rides on the write's Observation (no separate count job).
        ma = labels.select(F.col("id").alias("src"), F.col("label").alias("_s"))
        mb = labels.select(F.col("id").alias("dst"), F.col("label").alias("_d"))
        obs = Observation(f"cc_round_{i}")
        e_cur = lck.write(
            e_cur.join(ma, on="src")
            .join(mb, on="dst")
            .select(F.col("_s").alias("src"), F.col("_d").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .observe(obs, F.count(F.lit(1)).alias("n")),
            f"cc_edges_{1 + (i % 2)}",
        )
        n_edges = int(obs.get["n"])
        lck.record_counters(f"cc_iter_{i}", {"remaining_edges": n_edges})
        n_links = 0
        if n_edges > cap:
            continue
        # the label links that doubling left unresolved (module docstring).
        # Round 0 leaves none: its labels are one-hop minima, and one that
        # no contracted edge touches is its component's minimum.
        if i:
            links = _chain_links(labels, cap - n_edges + 1)
            n_links = links.num_rows
        if n_edges + n_links <= cap:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"rounds ({n_edges} contracted edges and {n_links} label links "
            "remain) — rounds needed grow ~log_8(diameter); raise "
            "max_iterations"
        )

    # fold the loop's checkpoints/counters back so the caller's next
    # manifest flush doesn't clobber the cc_iter_* convergence records
    ck._manifest.update(lck._manifest)
    ck._flush()

    # hand the result back on the CALLER's session (and at its
    # partitioning) so downstream joins never mix sessions. When the last
    # contraction emptied the edge set and no chain link is left, labels
    # IS the component-min assignment. Otherwise the driver's map over the
    # contracted edges and the links is the last round map:
    # label <- root(label).
    out = spark.read.schema(labels.schema).parquet(lck.path(labels_name))
    if n_edges + n_links:
        tables = ([links] if n_links else []) + ([_undirected(e_cur)] if n_edges else [])
        local = finish(ck, tables, i + 1)
        out = out.join(local, out["label"] == local["node"], "left").select(
            "id", F.coalesce(F.col("root"), F.col("label")).alias("label")
        )
    return out.select("id", F.col("label").alias("cluster_id"))
