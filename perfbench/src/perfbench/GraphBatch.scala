package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.graph.GraphFrame

/** The paper's five algorithms through the `GraphFrame` builders, once
  * each per round, on a seeded uniform random graph.
  *
  * Sizing: on 4 cores a 2^21-edge graph takes about 150 s for the five
  * calls, and a run must fit in well under a minute, so the graph is
  * 2^12 vertices and 2^15 edge draws. `smallGraphThreshold(0)` on every
  * builder that has one forces the distributed Pregel and contraction
  * loops, with their per-iteration checkpoints and shuffles, that a graph
  * above the 1 M-edge cutover takes; PageRank has no driver path.
  */
object GraphBatch extends Workload {
  val name = "graph_batch"

  val LogV = 12
  val Draws: Long = 1L << 15
  val PageRankIters = 10
  val Landmarks = 4
  /** |bench reference − engine| allowed on each normalized PageRank. */
  val PageRankTol = 1e-9

  /** The graph as the benchmark's own checks see it. */
  final class Graph(val nV: Int, val src: Array[Int], val dst: Array[Int]) {
    def m: Int = src.length
    /** Undirected simple adjacency: no self-loops, parallel edges merged. */
    lazy val adj: Array[Array[Int]] = {
      val sets = Array.fill(nV)(mutable.Set.empty[Int])
      for (i <- 0 until m if src(i) != dst(i)) { sets(src(i)) += dst(i); sets(dst(i)) += src(i) }
      sets.map(_.toArray.sorted)
    }
  }

  case class Algo(name: String, call: (GraphFrame, Long, Seq[Long]) => (Array[Row], Int),
      check: (Graph, Array[Row], Seq[Long]) => Seq[String])

  val algos: Seq[Algo] = Seq(
    Algo("pagerank", (g, _, _) => {
      val r = g.pageRank.maxIterations(PageRankIters).tolerance(0.0).run()
      (r.ranks.collect(), r.iterations)
    }, (gr, rows, _) => checkPageRank(gr, rows)),
    Algo("wcc", (g, _, _) => {
      val r = g.connectedComponents.smallGraphThreshold(0).run()
      (r.components.collect(), r.iterations)
    }, (gr, rows, _) => checkWcc(gr, rows)),
    Algo("sssp", (g, _, lms) => {
      val r = g.shortestPaths(lms).smallGraphThreshold(0).run()
      (r.vertices.select(col(GraphFrame.ID) +: lms.map(l => col(s"dist_$l")): _*).collect(),
        r.iterations)
    }, checkSssp),
    Algo("kcore", (g, _, _) => {
      val r = g.kCore.smallGraphThreshold(0).run()
      (r.vertices.select(GraphFrame.ID, "kcore").collect(), r.iterations)
    }, (gr, rows, _) => checkKCore(gr, rows)),
    Algo("mis", (g, seed, _) => {
      val r = g.maximalIndependentSet.smallGraphThreshold(0).setSeed(seed).run()
      (r.vertices.select(GraphFrame.ID).collect(), r.iterations)
    }, (gr, rows, _) => checkMis(gr, rows)))

  def run(ctx: Ctx, sessionS: Double): Outcome = {
    val spark = ctx.spark
    val nV = 1L << LogV
    def build(): (DataFrame, DataFrame) = {
      val e = Gen.uniformEdges(spark, ctx.seed, nV, Draws).localCheckpoint(true)
      val v = spark.range(nV).toDF(GraphFrame.ID).localCheckpoint(true)
      (v, e)
    }
    def drop(ve: (DataFrame, DataFrame)): Unit = {
      org.apache.spark.sql.graft.checkpointing.release(ve._1)
      org.apache.spark.sql.graft.checkpointing.release(ve._2)
    }
    val ((vertices, edges), setupMedian) = Workload.repeatSetup(3)(build())(drop)
    val g = GraphFrame(vertices, edges)
    val rows = edges.collect()
    val gr = new Graph(nV.toInt, rows.map(_.getLong(0).toInt), rows.map(_.getLong(1).toInt))
    val rnd = new scala.util.Random(ctx.seed)
    val lms = Seq.fill(Landmarks)(rnd.nextInt(nV.toInt).toLong).distinct

    val tr = ctx.tracer
    val root = tr.open("workload", name, name, -1)
    val passes = Workload.rounds(ctx.seconds) { pass =>
      algos.map { a =>
        val before = Storage.snapshot(spark)
        val opId = s"${a.name}#$pass"
        val t = tr.op("algorithm", opId, root) {
          try Right(a.call(g, ctx.seed, lms)) catch { case e: Exception => Left(e) }
        }
        val (ok, detail, iters) = t.value match {
          case Left(e) => (false, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}", 0)
          case Right((out, it)) =>
            val fails = a.check(gr, out, lms)
            (fails.isEmpty, fails.take(3).mkString("; "), it)
        }
        OpRec(a.name, opId, t.wallS, ok, detail, Storage.snapshot(spark).above(before),
          gr.m.toDouble * iters, t.span)
      }
    }
    tr.close(root)
    drop((vertices, edges))

    val ops = passes.flatten
    def med(f: OpRec => Double, a: String) = Stats.median(ops.filter(_.name == a).map(f))
    val report = ListMap(algos.map(a => s"${a.name}_s" -> Metric(med(_.wallS, a.name), "s")): _*) ++
      ListMap("edge_iters_per_s" -> Metric(ops.map(_.workUnits).sum / ops.map(_.wallS).sum, "1/s"),
        "edges" -> Metric(gr.m, "count"))
    val layer = if (!tr.traced) ListMap.empty[String, Metric] else ListMap(algos.flatMap { a =>
      val mine = ops.filter(_.name == a.name)
      val cs = mine.map(o => tr.byKey.getOrElse(o.key, new Counters))
      def m(f: Counters => Double) = Stats.median(cs.map(f))
      val p = s"algorithms.${a.name}"
      Seq(
        s"$p.iterations" -> Metric(Stats.median(mine.map(o => o.workUnits / gr.m)), "count"),
        s"$p.jobs" -> Metric(m(_.jobs.toDouble), "count"),
        s"$p.tasks" -> Metric(m(_.tasks.toDouble), "count"),
        s"$p.plan_ms" -> Metric(m(c => c.analysisMs + c.optimizationMs + c.planningMs), "ms"),
        s"$p.shuffle_write_mb" -> Metric(m(_.shuffleWrite / 1e6), "MB"),
        s"$p.exec_cpu_s" -> Metric(m(_.cpuNs / 1e9), "s"),
        s"$p.compiles" -> Metric(m(_.compiles.toDouble), "count"),
        s"$p.self_s" -> Metric(Stats.median(mine.map(o =>
          tr.selfMs(o.key, o.span.startMs, o.span.endMs) / 1e3)), "s"),
        s"$p.retained_blocks" -> Metric(mine.map(_.retained.blocks).max.toDouble, "count"))
    }: _*)
    // Per-superstep latency: iteration counts vary with the seed's graph,
    // the cost of one superstep of a given loop much less.
    val superstepS = ops.map(o => o.wallS / math.max(1.0, o.workUnits / gr.m))
    Outcome(sessionS + setupMedian, Stats.median(passes.map(_.map(_.wallS).sum)), ops,
      superstepS, ops.map(_.span), ops.map(_.workUnits).sum / passes.size, report,
      layer, org.json4s.JNothing)
  }

  // ---- output checks (outside the timed region) ----

  def checkWcc(g: Graph, rows: Array[Row]): Seq[String] = {
    val label = rows.map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val parent = Array.tabulate(g.nV)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }; r }
    for (i <- 0 until g.m) { val a = find(g.src(i)); val b = find(g.dst(i)); if (a != b) parent(a) = b }
    val comps = (0 until g.nV).map(find).distinct.size
    val fails = mutable.Buffer.empty[String]
    Workload.check(label.size == g.nV, s"wcc labelled ${label.size} of ${g.nV} vertices", fails)
    if (fails.isEmpty) {
      val split = (0 until g.m).count(i => label(g.src(i)) != label(g.dst(i)))
      Workload.check(split == 0, s"wcc: $split edges join differently labelled vertices", fails)
      val n = label.values.toSet.size
      Workload.check(n == comps, s"wcc: $n labels, union-find finds $comps components", fails)
    }
    fails.toSeq
  }

  def checkSssp(g: Graph, rows: Array[Row], lms: Seq[Long]): Seq[String] = {
    val fails = mutable.Buffer.empty[String]
    Workload.check(rows.length == g.nV, s"sssp returned ${rows.length} of ${g.nV} vertices", fails)
    if (fails.isEmpty) lms.zipWithIndex.foreach { case (lm, j) =>
      val d = new Array[Int](g.nV)
      rows.foreach(r => d(r.getLong(0).toInt) = r.getInt(j + 1))
      val Inf = Int.MaxValue
      Workload.check(d(lm.toInt) == 0, s"sssp: landmark $lm at distance ${d(lm.toInt)}", fails)
      val tight = new Array[Boolean](g.nV)
      tight(lm.toInt) = true
      var loose = 0
      for (i <- 0 until g.m) {
        val (u, v) = (g.src(i), g.dst(i))
        if (d(u) != Inf && (d(v) == Inf || d(v) > d(u) + 1)) loose += 1
        if (d(u) != Inf && d(v) == d(u) + 1) tight(v) = true
      }
      Workload.check(loose == 0, s"sssp[$lm]: $loose edges with d(dst) > d(src)+1", fails)
      val unsupported = (0 until g.nV).count(v => d(v) != Inf && !tight(v))
      Workload.check(unsupported == 0,
        s"sssp[$lm]: $unsupported vertices with no in-neighbour one step closer", fails)
    }
    fails.toSeq
  }

  /** Bench-side reference: core numbers by Matula–Beck peeling. */
  def coreNumbers(g: Graph): Array[Int] = {
    val deg = g.adj.map(_.length)
    val core = deg.clone()
    val order = (0 until g.nV).sortBy(deg).toArray
    val pos = new Array[Int](g.nV)
    order.zipWithIndex.foreach { case (v, i) => pos(v) = i }
    val maxD = if (g.nV == 0) 0 else deg.max
    val binStart = new Array[Int](maxD + 2)
    deg.foreach(d => binStart(d + 1) += 1)
    for (d <- 1 to maxD + 1) binStart(d) += binStart(d - 1)
    for (i <- 0 until g.nV) {
      val v = order(i)
      g.adj(v).foreach { u =>
        if (core(u) > core(v)) {
          val du = core(u); val pu = pos(u); val pw = binStart(du); val w = order(pw)
          if (u != w) { order(pu) = w; pos(w) = pu; order(pw) = u; pos(u) = pw }
          binStart(du) += 1
          core(u) -= 1
        }
      }
    }
    core
  }

  def checkKCore(g: Graph, rows: Array[Row]): Seq[String] = {
    val fails = mutable.Buffer.empty[String]
    val k = rows.map(r => r.getLong(0).toInt -> r.getLong(1).toInt).toMap
    Workload.check(k.size == g.nV, s"kcore returned ${k.size} of ${g.nV} vertices", fails)
    if (fails.isEmpty) {
      val weak = (0 until g.nV).count(v => g.adj(v).count(u => k(u) >= k(v)) < k(v))
      Workload.check(weak == 0, s"kcore: $weak vertices of core k with < k neighbours of core >= k", fails)
      val ref = coreNumbers(g)
      val diff = (0 until g.nV).count(v => ref(v) != k(v))
      Workload.check(diff == 0, s"kcore: $diff vertices differ from peeling", fails)
    }
    fails.toSeq
  }

  def checkMis(g: Graph, rows: Array[Row]): Seq[String] = {
    val in = new Array[Boolean](g.nV)
    rows.foreach(r => in(r.getLong(0).toInt) = true)
    val fails = mutable.Buffer.empty[String]
    val clash = (0 until g.nV).count(v => in(v) && g.adj(v).exists(in(_)))
    Workload.check(clash == 0, s"mis: $clash members with a member neighbour", fails)
    val uncovered = (0 until g.nV).count(v => !in(v) && !g.adj(v).exists(in(_)))
    Workload.check(uncovered == 0, s"mis: $uncovered non-members with no member neighbour", fails)
    fails.toSeq
  }

  /** Bench-side reference: plain power iteration r ← 0.15 + 0.85·Pᵀr from
    * r = 0.15, `PageRankIters` times, then normalized to sum 1 — the fixed
    * point the engine's delta form reaches with tolerance 0.
    */
  def pageRankReference(g: Graph, iters: Int): Array[Double] = {
    val out = new Array[Int](g.nV)
    g.src.foreach(s => out(s) += 1)
    var r = Array.fill(g.nV)(0.15)
    for (_ <- 1 to iters) {
      val next = Array.fill(g.nV)(0.15)
      for (i <- 0 until g.m) next(g.dst(i)) += 0.85 * r(g.src(i)) / out(g.src(i))
      r = next
    }
    val s = r.sum
    r.map(_ / s)
  }

  def checkPageRank(g: Graph, rows: Array[Row]): Seq[String] = {
    val ref = pageRankReference(g, PageRankIters)
    if (rows.length != g.nV) Seq(s"pagerank returned ${rows.length} of ${g.nV} vertices")
    else {
      val worst = rows.map(r => math.abs(r.getDouble(1) - ref(r.getLong(0).toInt))).max
      if (worst <= PageRankTol) Nil
      else Seq(f"pagerank: max |engine - reference| = $worst%.3e > $PageRankTol%.0e")
    }
  }
}
