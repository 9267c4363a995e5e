package graft.ops

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Connected components over an undirected edge list — the clustering step
  * every near-dup pipeline runs after pair generation (MinHash/SimHash
  * pairs → duplicate GROUPS → keep one canonical doc per group).
  *
  * Two regimes, chosen after the caller's edge pipeline is materialized
  * once ([[Lineage.truncate]]), with identical results:
  *
  *  - **Driver-sized graph.** When the truncated edge list's stored size
  *    ([[Lineage.actualBytes]], known without a job) is at most the
  *    session's `spark.sql.autoBroadcastJoinThreshold` — the size the
  *    session already lets the driver collect and broadcast — and the ids
  *    are integral, the edges are collected and union-found on the driver
  *    (min-id roots) and a local frame is returned: one collect in place
  *    of the loop's ~17 jobs. A size that is unknown (reliable-checkpoint
  *    mode), a threshold of −1, or non-integral ids take the loop.
  *  - **Distributed loop.** Min-label propagation WITH pointer jumping
  *    (the DataFrame form of Pregel-style CC plus the path-halving trick
  *    from the large-star/small-star literature), described below.
  *
  * The loop: every node starts labeled with itself; each round a node
  * takes the min of its own label, its neighbors' labels, and its
  * LABEL'S label (the jump). Neighbor
  * propagation alone needs diameter rounds — a pathological chain of 10⁶
  * near-dups would need 10⁶ rounds; the jump step roughly doubles the
  * distance a min label travels per round, so convergence is
  * O(log diameter) and a 10⁶-chain takes ~20 rounds.
  *
  * 100 TB posture (the loop):
  *  - each round is two equi-joins + a hash aggregate, all key-parallel;
  *  - the edge table is shuffled ONCE: it is repartitioned by the join key
  *    and pinned for the loop ([[Lineage.pinned]]), so every round's join
  *    reuses its layout and only the (node, label) table — one row per
  *    node — moves;
  *  - lineage is truncated each round via [[Lineage.truncate]]:
  *    localCheckpoint by default (cheapest; right at local[n]), reliable
  *    checkpoint() to `spark.graft.checkpointDir` when the session sets
  *    `spark.graft.reliableCheckpoint=true` — on a preemptible 1000-node
  *    cluster an executor loss then re-reads the checkpoint instead of
  *    killing the job. Either way the plan stops doubling per iteration,
  *    which would oom the driver on plan analysis long before data volume
  *    is the problem.
  *  - the per-round driver action is a 1-row existence check (did any
  *    label change), i.e. metadata-scale, not a collect of data.
  */
object ConnectedComponents {

  /** Returns (node, component): one row per distinct node in the edge list,
    * component = smallest node id in its connected component. Self-loops
    * and duplicate/reversed edges are tolerated; an edge with a null end
    * joins nothing, and a null id gives one (null, null) row. Both columns
    * take the (widened) id type and its nullability. `maxIter` bounds the
    * distributed loop only: it throws if that many rounds do not reach the
    * fixpoint (never silently returns partial labels); at O(log diameter)
    * rounds the default 25 covers any graph that fits on a cluster.
    */
  def run(edges: DataFrame, src: String, dst: String, maxIter: Int = 25): DataFrame =
    runWithStats(edges, src, dst, maxIter)._1

  /** run() plus the number of loop rounds taken (for tests/monitoring);
    * 0 when the graph was resolved on the driver. */
  def runWithStats(edges: DataFrame, src: String, dst: String,
                   maxIter: Int = 25): (DataFrame, Int) = {
    // materialize the caller's edge pipeline ONCE: the symmetric union and
    // the node-set extraction below each reference `edges`, and an
    // expensive upstream (a whole LSH pair pipeline) would otherwise
    // execute once per reference
    val e = Lineage.truncate(
      edges.select(col(src).as("e_src"), col(dst).as("e_dst")))
    val nodes = e.select(col("e_src").as("node")).union(e.select(col("e_dst").as("node")))
    val node = nodes.schema("node")
    val limit = e.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (limit >= 0 && Integral.contains(node.dataType) && Lineage.actualBytes(e).exists(_ <= limit))
      (onDriver(e, node), 0)
    else loop(e, nodes, maxIter)
  }

  private val Integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)

  /** Union-find over the collected edges; each root is its set's min id,
    * so find(n) is n's component. `node` is the id field: the result's two
    * columns take its type and nullability, as the loop's do. */
  private def onDriver(e: DataFrame, node: StructField): DataFrame = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    var sawNull = false
    e.collect().foreach { row =>
      val ends = (0 to 1).filterNot(row.isNullAt).map(row.getAs[Number](_).longValue)
      if (ends.size < 2) sawNull = true
      ends.foreach(n => parent.getOrElseUpdate(n, n))
      if (ends.size == 2) {
        val (ra, rb) = (find(ends(0)), find(ends(1)))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
    }
    val box: Long => Any = node.dataType match {
      case ByteType => _.toByte
      case ShortType => _.toShort
      case IntegerType => _.toInt
      case _ => identity
    }
    val rows = parent.keys.toSeq.map(n => Row(box(n), box(find(n)))) ++
      (if (sawNull) Seq(Row(null, null)) else Nil)
    e.sparkSession.createDataFrame(rows.asJava,
      StructType(Seq(node, node.copy(name = "component"))))
  }

  private def loop(e: DataFrame, nodes: DataFrame, maxIter: Int): (DataFrame, Int) = {
    // Size the loop's parallelism to the GRAPH, not the session default:
    // after LSH pruning the edge list is usually orders of magnitude
    // smaller than the corpus, and every one of the O(log d) rounds pays
    // per-task fixed costs on every partition. ~50k edges per partition,
    // sized from the (already materialized) directed edge list. The
    // sym-vs-labels joins adopt sym's width; the groupBy and pointer-jump
    // self-join still plan at the session shuffle width, where AQE's
    // partition coalescing shrinks them to the data.
    val nEdges = 2 * e.count()
    val maxP = e.sparkSession.sessionState.conf.numShufflePartitions
    val p = math.max(1, math.min(maxP.toLong, nEdges / 50000 + 1)).toInt
    // the symmetric edge table is read by the seed aggregate and by every
    // round; each round ends in an eager truncate, so the final labels
    // hold no reference to it and it is released when the loop ends
    val symEdges = e
      .union(e.select(col("e_dst").as("e_src"), col("e_src").as("e_dst")))
      .filter(col("e_src") =!= col("e_dst"))
      .distinct()
      .repartition(p, col("e_dst"))
    val (labels, iter) = Lineage.pinned(symEdges) { sym =>
      // node set from the UNFILTERED edge list, so a node appearing only in
      // self-loops still gets a (singleton) component instead of vanishing.
      // Labels are SEEDED with least(self, min neighbor id) rather than self
      // (r15 optimization, guide §1.2): at init every neighbor's label IS its
      // id, so this folds the first neighbor-propagation step into the seed
      // join for the cost of one aggregate over the pinned edge table —
      // shallow graphs (the near-dup norm: stars/cliques around one min node)
      // then converge one full round (two joins + checkpoint + scan) earlier.
      // The invariant the pointer jump relies on is preserved: the seed label
      // is the id of a node in the same component, and the fixpoint (min id
      // per component) is init-independent for any in-component seed.
      val nbr0 = sym.groupBy(col("e_dst")).agg(min(col("e_src")).as("nmin"))
      var labels = Lineage.truncate(
        nodes.distinct()
          .join(nbr0, col("node") === col("e_dst"), "left")
          .select(col("node"),
            least(col("node"), coalesce(col("nmin"), col("node"))).as("lbl")))
      var iter = 0
      var converged = false
      while (!converged && iter < maxIter) {
        val nbrMin = sym.join(labels, col("e_dst") === col("node"))
          .groupBy(col("e_src"))
          .agg(min(col("lbl")).as("nbr_lbl"))
        val cand = labels.join(nbrMin, col("node") === col("e_src"), "left")
          .select(col("node"), col("lbl").as("old_lbl"),
            least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("lbl"))
        // pointer jump: also adopt the label OF my label. A label is always
        // the id of a node in my component, so the lookup stays in-component
        // and monotonically nonincreasing — this is what turns O(diameter)
        // into O(log diameter). The old label rides along so convergence is
        // a filter on the checkpointed result, not another join per round.
        // (r15: a double jump per round was measured on the deep semdedup
        // cosine graphs — round count did NOT drop, per-round cost rose;
        // reverted.)
        val next = Lineage.truncate(cand.as("c")
          .join(cand.select(col("node").as("l_node"), col("lbl").as("l_lbl")),
            col("c.lbl") === col("l_node"), "left")
          .select(col("node"),
            least(col("c.lbl"), coalesce(col("l_lbl"), col("c.lbl"))).as("lbl"),
            (least(col("c.lbl"), coalesce(col("l_lbl"), col("c.lbl")))
              =!= col("old_lbl")).as("__chg")))
        converged = next.filter(col("__chg")).head(1).isEmpty
        labels = next.drop("__chg")
        iter += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"connected components did not converge in $maxIter rounds")
      (labels, iter)
    }
    (labels.withColumnRenamed("lbl", "component"), iter)
  }
}
