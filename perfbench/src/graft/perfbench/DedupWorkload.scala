package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg.Lsh
import graft.ops.{Dedup, Par}
import Workload._
import scala.collection.mutable

/** Near-duplicate detection over a seeded document table with planted
  * near-duplicate clusters and exact copies: `Dedup.minhashLshPairs`,
  * `simhashPairs` and `ngramJaccardPairs` (per block).
  */
final class DedupWorkload(spark: SparkSession, seed: Long, dir: String,
                          nDocs: Int, blockSize: Int) extends Workload {
  import spark.implicits._

  val Threshold = 0.5
  /** Least share of planted pairs at or above the threshold that
    * minhashLshPairs must find (16 bands of 2 rows miss a 0.5-Jaccard pair
    * with probability about 1%).
    */
  val RecallBound = 0.95

  private val inputPath = s"$dir/dedup-input"
  private var input: Gen.DedupInput = _
  private var docs: DataFrame = _
  private var mh: DataFrame = _
  private var sh: DataFrame = _
  private var nj: Array[(Long, Long, Double)] = Array.empty
  private var pairCounts = Map.empty[String, Double]

  def inputRows: Long = nDocs.toLong
  def opsPerRep: Int = 3
  def tracedOpsPerRep: Int = opsPerRep + 4

  def setup(): Unit = {
    input = Gen.dedup(seed, nDocs, blockSize)
    input.docs.toDF("doc_id", "block", "text").write.mode("overwrite").parquet(inputPath)
    docs = spark.read.parquet(inputPath)
  }

  private def calls(t: Option[Tracer]): Unit = {
    def sp[A](name: String)(f: => A): A = t.fold(f)(_.span(name)(f))
    mh = sp("ops.minhash_pairs")(Dedup.minhashLshPairs(docs, Threshold))
    sh = sp("ops.simhash_pairs")(Dedup.simhashPairs(docs, 3))
    nj = sp("ops.ngram_jaccard")(
      Dedup.ngramJaccardPairs(docs, "block", Threshold).as[(Long, Long, Double)].collect())
  }

  def run(): Unit = calls(None)

  def parts: Seq[String] = Seq("ops.minhash_pairs", "ops.simhash_pairs", "ops.ngram_jaccard")

  def traced(t: Tracer): Unit = {
    t.span("rep")(calls(Some(t)))
    pairCounts = Map("ops.minhash_pairs.pairs" -> mh.count().toDouble,
      "ops.simhash_pairs.pairs" -> sh.count().toDouble,
      "ops.ngram_jaccard.pairs" -> nj.length.toDouble)
    val text = docs.select(col("doc_id").as("id"), col("text").as("_t"))
    t.span("ops.widen")(Par.widen(text))
    t.span("functions.shingle_hashes")(noop(text.select(Dedup.wordShingleHashes(col("_t")))))
    val sh3 = pinned(text.select(Dedup.wordShingleHashes(col("_t")).as("sh")))
    t.span("functions.minhash_sig")(noop(sh3.select(
      graft.functions.functions.minhashSig(col("sh"), Lsh.NumHashes))))
    t.span("functions.simhash64")(noop(sh3.select(graft.functions.functions.simhash64(col("sh")))))
    sh3.unpersist()
  }

  def storedBytes(): Long = cachedBytes(spark)

  def extras: Map[String, Double] = pairCounts

  def reset(): Unit = clearCache(spark)

  def check(): Seq[String] = {
    val byId = input.docs.map(d => d.docId -> d).toMap
    val grams = mutable.HashMap.empty[Long, Set[String]]
    def g(id: Long) = grams.getOrElseUpdate(id, Gen.wordGrams3(byId(id).text))
    def trueJ(a: Long, b: Long) = Gen.jaccard(g(a), g(b))

    // brute force, block by block: every pair at or above the threshold
    val brute = input.docs.groupBy(_.block).valuesIterator.flatMap { ds =>
      val ids = ds.map(_.docId).sorted
      for (i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator;
           jv = trueJ(ids(i), ids(j)) if jv >= Threshold) yield (ids(i), ids(j)) -> jv
    }.toMap
    val njMap = nj.map(r => (r._1, r._2) -> r._3).toMap
    val ngram = expect(nj.length == njMap.size && njMap.keySet == brute.keySet,
        s"ngramJaccardPairs: ${njMap.size} pairs, brute force ${brute.size}") ++
      expect(njMap.forall { case (k, v) => brute.get(k).forall(b => math.abs(b - v) <= 1e-12) },
        "ngramJaccardPairs: a jaccard value differs from the brute-force one")

    val mhGot = mh.as[(Long, Long, Double)].collect()
    val badMh = mhGot.count { case (a, b, j) =>
      val t = trueJ(a, b); t < Threshold || math.abs(t - j) > 1e-12
    }
    val planted = (input.plantedPairs ++ input.exactDupPairs).filter { case (a, b) => trueJ(a, b) >= Threshold }
    val mhSet = mhGot.map(r => (r._1, r._2)).toSet
    val recall = planted.count(mhSet.contains).toDouble / math.max(planted.length, 1)
    val minhash = expect(badMh == 0, s"minhashLshPairs: $badMh pairs below threshold or with a wrong jaccard") ++
      expect(recall >= RecallBound, f"minhashLshPairs: planted-pair recall $recall%.4f < $RecallBound")

    val shGot = sh.as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val missing = input.exactDupPairs.count(p => !shGot.get(p).contains(0))
    val simhash = expect(missing == 0, s"simhashPairs: $missing exact duplicates missing or not at hamming 0")
    ngram ++ minhash ++ simhash
  }
}
