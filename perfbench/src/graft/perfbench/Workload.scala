package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.jdk.CollectionConverters._

/** One benchmark workload: seeded inputs, a repetition of public calls,
  * a traced form of that repetition, and checks of its outputs.
  */
trait Workload {
  /** Input rows one repetition consumes (the base of rows_per_s). */
  def inputRows: Long

  /** Public calls an untraced repetition makes. */
  def opsPerRep: Int

  /** Public calls a traced repetition makes, attribution calls included. */
  def tracedOpsPerRep: Int

  /** Generate the inputs from the seed and materialize them as parquet. */
  def setup(): Unit

  /** One repetition from input table to complete result, untraced. */
  def run(): Unit

  /** One repetition with spans: the calls of [[run]] inside the root span
    * "rep", then attribution calls that time single layers on the inputs
    * the repetition gave them.
    */
  def traced(t: Tracer): Unit

  /** Spans whose durations together redo the work of one repetition. */
  def parts: Seq[String]

  /** Bytes the last repetition's result keeps. */
  def storedBytes(): Long

  /** Check the last repetition's outputs; returns the failed checks. */
  def check(): Seq[String]

  /** Checks that run the library again on the last repetition's outputs
    * (a repeated merge must change nothing). `--selfcheck` runs them; a
    * measured run leaves them out, because at full size they cost as much
    * as a repetition and the run count leaves no time for them.
    */
  def checkRerun(): Seq[String] = Nil

  /** Per-layer figures that are not span counters (pair counts, sizes). */
  def extras: Map[String, Double]

  /** Release what the last repetition pinned or wrote. */
  def reset(): Unit
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def pinned(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_: Path)).sum
      finally s.close()
    }
  }

  def deleteDir(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
      finally s.close()
    }
  }

  /** Bytes of every cached block (memory and disk) in the session. */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def clearCache(spark: SparkSession): Unit = spark.catalog.clearCache()

  /** Rows of `a` missing from `b` and rows of `b` missing from `a`, as
    * multisets: the test `exceptAll` in both directions makes, done on the
    * collected rows because the results are small and a pair of exceptAll
    * jobs per read costs more than the read itself.
    */
  def diff(what: String, a: Seq[Row], b: Seq[Row]): Seq[String] = {
    def bag(rows: Seq[Row]) = rows.groupMapReduce(identity)(_ => 1)(_ + _)
    val (ga, gb) = (bag(a), bag(b))
    val ab = ga.map { case (r, n) => math.max(0, n - gb.getOrElse(r, 0)) }.sum
    val ba = gb.map { case (r, n) => math.max(0, n - ga.getOrElse(r, 0)) }.sum
    if (ab == 0 && ba == 0) Nil
    else Seq(s"$what: $ab rows only in the library's result, $ba only in the expected one")
  }

  def expect(cond: Boolean, msg: => String): Seq[String] = if (cond) Nil else Seq(msg)
}
