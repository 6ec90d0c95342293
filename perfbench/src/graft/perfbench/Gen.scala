package graft.perfbench

import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generators. Each returns its input together with the truth
  * that input implies, computed here from the generator's own draws and
  * never by calling the library: the library only ever sees the rows.
  */
object Gen {

  /** Character 3-gram set, the pipeline's similarity unit (strings shorter
    * than 3 characters are their own single gram).
    */
  def grams3(s: String): Set[String] =
    if (s.length < 3) Set(s) else s.sliding(3).toSet

  def jaccard[A](a: Set[A], b: Set[A]): Double = {
    val i = a.count(b.contains)
    i.toDouble / (a.size + b.size - i)
  }

  private val Letters = "abcdefghijklmnopqrstuvwxyz"

  private def word(r: SplittableRandom, len: Int): String = {
    val sb = new StringBuilder(len)
    var i = 0
    while (i < len) { sb += Letters.charAt(r.nextInt(26)); i += 1 }
    sb.result()
  }

  // ---------------------------------------------------------------- kg

  /** Predicate phrases of the extraction rule spec and the predicate each
    * one maps to.
    */
  val Phrases: Vector[(String, String)] = Vector(
    "works at" -> "works_at", "joined" -> "member_of", "uses" -> "uses",
    "reports to" -> "reports_to", "met with" -> "met_with",
    "acquired" -> "acquired", "partnered with" -> "partner_of",
    "deployed" -> "deployed")

  /** Lowercase filler sentences: no capital letter, no tool name and no
    * predicate phrase, so none of them can start or complete a mention.
    */
  val Fillers: Vector[String] = Vector(
    "ok let me check the logs", "that run finished clean",
    "can you look into this", "the numbers came back mixed",
    "we should sync on the rollout", "nothing unusual in the output",
    "let me pull the latest snapshot", "still waiting on the review")

  val ToolNames: Vector[String] =
    Vector("spark", "duckdb", "flink", "trino", "kafka", "presto", "hive", "beam")

  val Suffixes: Vector[String] = Vector(" Corp", " Corporation", " Inc")

  val HotConv = "conv-hot"
  val TurnsPerConv = 20
  val TsBase = 1700000000L

  /** One entity: its surfaces as written and the normalized key of each. */
  final case class Entity(surfaces: Vector[String], norms: Vector[String])

  final case class Turn(convId: String, turnIdx: Int, role: String, text: String,
                        tool: String, tsSec: Long)

  final case class EntityTruth(mentions: Long, firstTs: Long, lastTs: Long)
  final case class ConvTruth(nTurns: Long, tools: Seq[String], firstTs: Long, lastTs: Long)

  final case class KgTruth(
      facts: Long,
      triples: Set[(String, String, String)],
      support: Map[(String, String, String), Long],
      entities: Map[String, EntityTruth],
      convs: Map[String, ConvTruth],
      mentionedNorms: Int)

  final case class KgInput(turns: Vector[Turn], truth: KgTruth)

  /** Entity names that no two entities can link: every normalized key of a
    * new entity stays below `maxCross` char-3-gram Jaccard against every key
    * of every entity drawn before it (the pipeline links at 0.5). Each
    * entity has its bare name, the three corporate-suffix forms and
    * `typos` forms with one lowercase letter doubled; all its keys link to
    * each other, so its keys form one clique of similar pairs.
    */
  def entities(r: SplittableRandom, n: Int, nameLen: Int, typos: Int,
               maxCross: Double = 0.4): Vector[Entity] = {
    val index = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    val normGrams = mutable.ArrayBuffer.empty[Set[String]]
    val out = Vector.newBuilder[Entity]
    var made = 0
    while (made < n) {
      val base = word(r, nameLen)
      val typoNorms = r.ints(typos * 3L, 1, nameLen).toArray.distinct.take(typos)
        .map(p => base.substring(0, p) + base.charAt(p) + base.substring(p)).distinct
      val norms = (base +: typoNorms.toVector).distinct
      val gs = norms.map(grams3)
      val clean = !ToolNames.exists(base.contains) && gs.forall { g =>
        val shared = mutable.HashMap.empty[Int, Int]
        g.foreach(x => index.get(x).foreach(_.foreach(id => shared(id) = shared.getOrElse(id, 0) + 1)))
        shared.forall { case (id, i) =>
          i.toDouble / (g.size + normGrams(id).size - i) < maxCross
        }
      }
      if (clean) {
        gs.foreach { g =>
          val id = normGrams.length
          normGrams += g
          g.foreach(x => index.getOrElseUpdate(x, mutable.ArrayBuffer.empty) += id)
        }
        val cap = base.capitalize
        val surfaces = (cap +: Suffixes.map(cap + _)) ++ typoNorms.map(_.capitalize)
        out += Entity(surfaces, Vector.fill(4)(base) ++ typoNorms)
        made += 1
      }
    }
    out.result()
  }

  /** Transcript turns: one hot conversation holds `hotShare` of the turns,
    * the rest fall into conversations of TurnsPerConv turns. Each turn is a
    * filler sentence and 0 to 2 fact statements "Subject phrase Object".
    * Every third turn of a conversation is a tool turn with a tool name.
    */
  def kg(seed: Long, nTurns: Int, nEntities: Int, nameLen: Int, typos: Int,
         hotShare: Double = 0.3): KgInput = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 11)
    val ents = entities(r, nEntities, nameLen, typos)
    val hot = (nTurns * hotShare).toInt
    val turns = Vector.newBuilder[Turn]
    // one record per fact: subject entity and surface, predicate, object
    // entity and surface, turn timestamp
    val factRows = mutable.ArrayBuffer.empty[(Int, Int, Int, Int, Int, Long)]
    val convs = mutable.LinkedHashMap.empty[String, (Long, mutable.TreeSet[String], Long, Long)]
    var id = 0
    while (id < nTurns) {
      val (conv, idx) =
        if (id < hot) (HotConv, id)
        else { val rest = id - hot; (f"conv-${rest / TurnsPerConv}%06d", rest % TurnsPerConv) }
      val role = idx % 3 match { case 0 => "user"; case 1 => "assistant"; case _ => "tool" }
      val tool = if (role == "tool") ToolNames(r.nextInt(ToolNames.length)) else null
      val ts = TsBase + id
      val nFacts = r.nextInt(3)
      val sb = new StringBuilder(Fillers(r.nextInt(Fillers.length)))
      var f = 0
      while (f < nFacts) {
        val se = r.nextInt(ents.length)
        val sSurf = r.nextInt(ents(se).surfaces.length)
        val oe = r.nextInt(ents.length)
        val oSurf = r.nextInt(ents(oe).surfaces.length)
        val p = r.nextInt(Phrases.length)
        sb ++= ". " ++= ents(se).surfaces(sSurf) += ' ' ++= Phrases(p)._1 += ' ' ++=
          ents(oe).surfaces(oSurf)
        factRows += ((se, sSurf, p, oe, oSurf, ts))
        f += 1
      }
      sb += '.'
      turns += Turn(conv, idx, role, sb.result(), tool, ts)
      val c = convs.getOrElse(conv, (0L, mutable.TreeSet.empty[String], Long.MaxValue, Long.MinValue))
      if (tool != null) c._2 += tool
      convs(conv) = (c._1 + 1, c._2, math.min(c._3, ts), math.max(c._4, ts))
      id += 1
    }
    // canonical key of an entity = lexicographic min of its MENTIONED keys
    val mentioned = mutable.HashMap.empty[Int, mutable.Set[String]]
    factRows.foreach { case (se, ss, _, oe, os, _) =>
      mentioned.getOrElseUpdate(se, mutable.Set.empty) += ents(se).norms(ss)
      mentioned.getOrElseUpdate(oe, mutable.Set.empty) += ents(oe).norms(os)
    }
    val canon = mentioned.map { case (e, ns) => e -> ns.min }
    val support = mutable.HashMap.empty[(String, String, String), Long]
    val ent = mutable.HashMap.empty[String, EntityTruth]
    def see(name: String, ts: Long): Unit = {
      val e = ent.getOrElse(name, EntityTruth(0, Long.MaxValue, Long.MinValue))
      ent(name) = EntityTruth(e.mentions + 1, math.min(e.firstTs, ts), math.max(e.lastTs, ts))
    }
    factRows.foreach { case (se, _, p, oe, _, ts) =>
      val t = (canon(se), Phrases(p)._2, canon(oe))
      support(t) = support.getOrElse(t, 0L) + 1
      see(t._1, ts); see(t._3, ts)
    }
    val truth = KgTruth(
      facts = factRows.length.toLong,
      triples = support.keySet.toSet,
      support = support.toMap,
      entities = ent.toMap,
      convs = convs.map { case (k, (n, tools, a, b)) => k -> ConvTruth(n, tools.toSeq, a, b) }.toMap,
      mentionedNorms = mentioned.valuesIterator.map(_.size).sum)
    KgInput(turns.result(), truth)
  }

  // ------------------------------------------------------------- graph

  final case class Customer(uid: Long, name: String, segment: String, tag: String, visits: Long)
  final case class Order(uid: Long, status: String, amount: Long, priority: String)
  final case class Nation(uid: Long, name: String, region: String)
  final case class Placed(startUid: Long, endUid: Long, qty: Long, channel: String)
  final case class Located(startUid: Long, endUid: Long, since: Long)

  final case class GraphBatch(customers: Vector[Customer], orders: Vector[Order],
                              nations: Vector[Nation], placed: Vector[Placed],
                              located: Vector[Located])

  /** The merged state both batches imply under graphio's rules: update
    * props take the last non-null value, preserve props keep the first,
    * append props collect every value in batch order, sum props add up.
    */
  final case class MergedCustomer(uid: Long, name: String, segment: String,
                                  tags: Seq[String], visits: Long)
  final case class MergedPlaced(startUid: Long, endUid: Long, qty: Long, channel: String)

  final case class GraphTruth(customers: Vector[MergedCustomer], orders: Vector[Order],
                              nations: Vector[Nation], placed: Vector[MergedPlaced],
                              located: Vector[Located], dangling: Int)

  final case class GraphInput(b1: GraphBatch, b2: GraphBatch, truth: GraphTruth)

  val Segments: Vector[String] =
    Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Statuses: Vector[String] = Vector("O", "F", "P")
  val Priorities: Vector[String] =
    Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Channels: Vector[String] = Vector("web", "phone", "store", "partner")
  val NNations = 25

  /** Two overlapping batches of a customers/orders/nations graph. Batch 1
    * holds keys [0, 0.8n), batch 2 holds [0.6n, n): the overlap is merged,
    * the rest inserted. About 2% of the edges of each batch point at a key
    * that exists in neither batch and must be dropped. An order keeps its
    * customer across batches, so an overlapping order's PLACED edge merges.
    */
  def graph(seed: Long, nCustomers: Int, nOrders: Int): GraphInput = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 23)
    val custOf = Array.fill(nOrders)(-1L)
    val nationOf = Array.fill(nCustomers)(r.nextInt(NNations).toLong)
    def range(n: Int, batch: Int): Range =
      if (batch == 1) 0 until (n * 8 / 10) else (n * 6 / 10) until n
    var dangling = 0
    def batch(b: Int): GraphBatch = {
      val cs = range(nCustomers, b).map { u =>
        // about 5% of batch-2 names are null: a null update keeps the old value
        val name = if (b == 2 && r.nextInt(20) == 0) null else s"cust_${u}_b$b"
        Customer(u, name, Segments(r.nextInt(Segments.length)),
          s"tag${r.nextInt(50)}", 1L + r.nextInt(20))
      }.toVector
      val os = range(nOrders, b).map { u =>
        Order(u, Statuses(r.nextInt(Statuses.length)), 1L + r.nextInt(10000),
          Priorities(r.nextInt(Priorities.length)))
      }.toVector
      val ns = (0 until NNations).map(u => Nation(u, s"nation_${u}_b$b", s"region_${u % 5}")).toVector
      // batch 1 draws customers from batch-1 keys only: an edge resolves
      // against the nodes merged so far
      val custRange = if (b == 1) nCustomers * 8 / 10 else nCustomers
      val placed = os.map { o =>
        val u = o.uid.toInt
        if (custOf(u) < 0) custOf(u) = r.nextInt(custRange).toLong
        Placed(custOf(u), u, 1L + r.nextInt(9), Channels(r.nextInt(Channels.length)))
      }
      val dang = (0 until math.max(1, os.length / 50)).map { j =>
        dangling += 1
        if (j % 2 == 0) Placed(nCustomers + j, os(r.nextInt(os.length)).uid, 1L, "web")
        else Placed(r.nextInt(custRange).toLong, nOrders + j, 1L, "web")
      }
      val located = cs.map(c => Located(c.uid, nationOf(c.uid.toInt), 2000L + b * 10 + r.nextInt(10)))
      GraphBatch(cs, os, ns, placed ++ dang, located)
    }
    val b1 = batch(1)
    val b2 = batch(2)

    val c1 = b1.customers.map(c => c.uid -> c).toMap
    val c2 = b2.customers.map(c => c.uid -> c).toMap
    val customers = (c1.keySet ++ c2.keySet).toVector.sorted.map { u =>
      (c1.get(u), c2.get(u)) match {
        case (Some(a), Some(b)) =>
          MergedCustomer(u, Option(b.name).getOrElse(a.name), a.segment,
            Seq(a.tag, b.tag), a.visits + b.visits)
        case (Some(a), None) => MergedCustomer(u, a.name, a.segment, Seq(a.tag), a.visits)
        case (None, Some(b)) => MergedCustomer(u, b.name, b.segment, Seq(b.tag), b.visits)
        case _ => sys.error("unreachable")
      }
    }
    val o1 = b1.orders.map(o => o.uid -> o).toMap
    val o2 = b2.orders.map(o => o.uid -> o).toMap
    val orders = (o1.keySet ++ o2.keySet).toVector.sorted.map { u =>
      (o1.get(u), o2.get(u)) match {
        case (Some(a), Some(b)) => Order(u, b.status, a.amount + b.amount, a.priority)
        case (a, b) => a.orElse(b).get
      }
    }
    val nations = b2.nations.zip(b1.nations).map { case (n2, n1) => Nation(n2.uid, n2.name, n1.region) }
    def live(p: Placed) = p.startUid < nCustomers && p.endUid < nOrders
    val placed = (b1.placed.filter(live) ++ b2.placed.filter(live))
      .groupBy(p => (p.startUid, p.endUid)).toVector.sortBy(_._1).map { case ((s, d), ps) =>
        MergedPlaced(s, d, ps.map(_.qty).sum, ps.last.channel)
      }
    val located = (b1.located ++ b2.located).groupBy(l => (l.startUid, l.endUid))
      .toVector.sortBy(_._1).map { case (_, ls) => ls.last }
    GraphInput(b1, b2, GraphTruth(customers, orders, nations, placed, located, dangling))
  }

  // ------------------------------------------------------------- dedup

  final case class Doc(docId: Long, block: String, text: String)

  final case class DedupInput(docs: Vector[Doc], plantedPairs: Vector[(Long, Long)],
                              exactDupPairs: Vector[(Long, Long)])

  /** Word 3-gram string set under the library's tokenization for plain
    * lowercase text (single spaces): a text with fewer than 3 words is
    * one gram.
    */
  def wordGrams3(text: String): Set[String] = {
    val toks = text.split(' ')
    if (toks.length < 3) Set(toks.mkString(" "))
    else toks.sliding(3).map(_.mkString(" ")).toSet
  }

  /** Documents in blocks of `blockSize`. Within a block, clusters of 2 to 4
    * near-duplicates are planted (a base text and copies with 1 to 4 word
    * substitutions), plus exact copies of some documents; the remaining
    * documents are independent draws. Words come from a seeded vocabulary
    * of 4000 lowercase words, so unrelated documents share almost no
    * 3-grams.
    */
  def dedup(seed: Long, nDocs: Int, blockSize: Int): DedupInput = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 37)
    val vocab = Vector.fill(4000)(word(r, 3 + r.nextInt(6))).distinct
    def text(): Array[String] = Array.fill(40 + r.nextInt(41))(vocab(r.nextInt(vocab.length)))
    val docs = Vector.newBuilder[Doc]
    val planted = Vector.newBuilder[(Long, Long)]
    val exact = Vector.newBuilder[(Long, Long)]
    var id = 0L
    var blk = 0
    while (id < nDocs) {
      val block = f"blk$blk%05d"
      val end = math.min(nDocs.toLong, id + blockSize)
      while (id < end) {
        val kind = r.nextInt(10)
        if (kind < 3 && end - id >= 4) {
          val base = text()
          val size = 2 + r.nextInt(3)
          val ids = (0 until size).map(_ + id)
          ids.zipWithIndex.foreach { case (d, k) =>
            val t = base.clone()
            if (k > 0) (0 until 1 + r.nextInt(4)).foreach(_ => t(r.nextInt(t.length)) = vocab(r.nextInt(vocab.length)))
            docs += Doc(d, block, t.mkString(" "))
          }
          for (a <- ids; b <- ids if a < b) planted += ((a, b))
          id += size
        } else if (kind == 3 && end - id >= 2) {
          val t = text().mkString(" ")
          docs += Doc(id, block, t)
          docs += Doc(id + 1, block, t)
          exact += ((id, id + 1))
          id += 2
        } else {
          docs += Doc(id, block, text().mkString(" "))
          id += 1
        }
      }
      blk += 1
    }
    DedupInput(docs.result(), planted.result(), exact.result())
  }
}
