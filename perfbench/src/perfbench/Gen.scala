package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The same seed gives the same rows; the engine
  * only ever sees the generated frames. Every random draw is an xxhash64 of
  * the row index salted by the seed and a per-column tag, the style of
  * `ScaleBench.syntheticEdges`.
  */
object Gen {

  private def h(seed: Long, tag: Long): Column =
    xxhash64(col("id"), lit(seed), lit(tag))

  private def uniform(seed: Long, tag: Long): Column =
    pmod(h(seed, tag), lit(1000000L)).cast("double") / lit(1000000.0)

  /** Uniform random directed graph on `nV` vertices: `m` draws, self-loops
    * dropped (so a little under `m` edges; parallel edges stay).
    */
  def uniformEdges(spark: SparkSession, seed: Long, nV: Long, m: Long): DataFrame =
    spark.range(m)
      .select(pmod(h(seed, 1), lit(nV)).as("src"), pmod(h(seed, 2), lit(nV)).as("dst"))
      .filter(col("src") =!= col("dst"))

  /** Power-law destination transform: dst = ⌊u⁴·nV⌋, so low ids become
    * hubs; sources stay uniform.
    */
  private def powerLawPair(seed: Long, nV: Long): Seq[Column] = Seq(
    pmod(h(seed, 3), lit(nV)).as("src"),
    (pow(uniform(seed, 4), 4.0) * nV).cast("long").as("dst"))

  /** Shape of a change log: one base-load batch, then `addBatches` batches
    * of `addSize` draws, then `removeBatches` batches that each take down a
    * disjoint hash slice (1 in `removeModulus`) of the edges added so far.
    */
  case class LogShape(nV: Long, base: Long, addBatches: Int, addSize: Long,
      removeBatches: Int, removeModulus: Int) {
    require(removeBatches < removeModulus, "remove slices must be disjoint")
    def batches: Int = 1 + addBatches + removeBatches
    def addDraws: Long = base + addBatches.toLong * addSize
  }

  /** `[batch, src, dst, op]` with op ∈ {add, remove}. Removals follow every
    * addition and only name present edges, once each, so the net edge set
    * is `canon(adds) ∖ canon(removes)` whatever the engine's in-batch order.
    */
  def changeLog(spark: SparkSession, seed: Long, s: LogShape): DataFrame = {
    // Draw index -> batch: the first `base` draws are batch 0.
    val draws = spark.range(s.addDraws)
      .select(col("id") +: powerLawPair(seed, s.nV): _*)
      .filter(col("src") =!= col("dst"))
      .select(
        when(col("id") < s.base, lit(0))
          .otherwise(((col("id") - s.base) / s.addSize).cast("int") + 1).as("batch"),
        col("src"), col("dst"), lit("add").as("op"))
    val lo = least(col("src"), col("dst"))
    val hi = greatest(col("src"), col("dst"))
    val slice = pmod(xxhash64(lo, hi, lit(seed), lit(5L)), lit(s.removeModulus.toLong))
    val removes = draws
      .select(lo.as("src"), hi.as("dst"), slice.as("slice"))
      .filter(col("slice") < s.removeBatches)
      .dropDuplicates("src", "dst")
      .select((col("slice") + 1 + s.addBatches).cast("int").as("batch"),
        col("src"), col("dst"), lit("remove").as("op"))
    draws.unionByName(removes)
  }

  /** Stage a change log as one parquet file per batch under `dir`, with
    * modification times in batch order, so a file stream read with
    * `maxFilesPerTrigger = 1` sees exactly one batch per trigger. One job
    * writes all batches.
    */
  def stageBatches(log: DataFrame, dir: java.io.File, batches: Int): Unit = {
    val tmp = new java.io.File(dir.getParentFile, dir.getName + ".parts")
    Files.deleteTree(tmp)
    Files.deleteTree(dir)
    log.repartition(batches, col("batch")).write.partitionBy("batch")
      .parquet(tmp.getAbsolutePath)
    dir.mkdirs()
    (0 until batches).foreach { b =>
      val part = Option(new java.io.File(tmp, s"batch=$b").listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet"))
      require(part.size == 1, s"batch $b staged as ${part.size} files, expected 1")
      val dst = new java.io.File(dir, f"b$b%04d.parquet").toPath
      java.nio.file.Files.move(part.head.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1600000000000L + b * 60000L))
    }
    Files.deleteTree(tmp)
  }
}

object Files {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
