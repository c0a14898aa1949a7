package perfbench

import java.util.SplittableRandom

/** Seeded input generators. The same seed gives byte-identical inputs in
  * any JVM (SplittableRandom is specified bit for bit); graft only ever sees
  * what these produce, staged into Derby or parquet. The sizes and shares
  * are documented, with the reason for each, in perfbench/README.md. */
object Gen {

  /** Zipf sampler over ranks 0 until n with exponent s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def weights: Seq[Double] =
      cdf.indices.map(i => cdf(i) - (if (i == 0) 0.0 else cdf(i - 1)))
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def word(r: SplittableRandom): String = {
    val len = 3 + r.nextInt(6)
    val sb = new StringBuilder
    (0 until len).foreach(_ => sb += ('a' + r.nextInt(26)).toChar)
    sb.result()
  }

  private def shuffled[T](xs: IndexedSeq[T], r: SplittableRandom): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  // ---- ingest, backlog part -------------------------------------------

  final case class Event(id: Long, shard: String, tsUs: Long, userId: Int,
      amountE2: Long, note: String)

  /** A warehouse backlog: `events` over `shards`, of which `late` are
    * inserted only after the first poll cycle commits. */
  final case class Backlog(events: IndexedSeq[Event], shards: Seq[String],
      late: Set[String], pageSize: Long) {
    def startEvents: IndexedSeq[Event] = events.filterNot(e => late(e.shard))
    def lateEvents: IndexedSeq[Event] = events.filter(e => late(e.shard))

    /** The poll cycle that must commit each event: page k (0-based) of a
      * shard ordered by (ts, id) lands in cycle k + 1, one later for a late
      * shard, which is first discovered by cycle 2. */
    def expectedCycle: Map[Long, Long] =
      events.groupBy(_.shard).toSeq.flatMap { case (sh, es) =>
        es.sortBy(e => (e.tsUs, e.id)).zipWithIndex.map { case (e, rank) =>
          e.id -> (rank / pageSize + 1 + (if (late(sh)) 1 else 0))
        }
      }.toMap
  }

  val BacklogRows = 20000
  val BacklogShards = 8
  val BacklogSkew = 1.1
  val BacklogLateRanks = Seq(2, 5)
  val BacklogPageSize = 2000L

  def backlog(seed: Long): Backlog = {
    val r = new SplittableRandom(seed ^ 0x5EED0001L)
    val names = shuffled((0 until BacklogShards).map(i => f"shard_$i%02d"), r)
    val weights = new Zipf(BacklogShards, BacklogSkew).weights
    val sizes = weights.map(w => math.max(1, math.round(w * BacklogRows).toInt)).toArray
    sizes(0) += BacklogRows - sizes.sum // the head shard absorbs rounding
    val ids = shuffled((1 to BacklogRows).map(_.toLong * 7 + 1000), r)
    var next = 0
    val events = names.zip(sizes).flatMap { case (sh, n) =>
      var ts = 1700000000000000L + r.nextInt(1000000)
      (0 until n).map { _ =>
        ts += r.nextInt(2000) // ties allowed: (ts, id) is the total order
        val id = ids(next); next += 1
        Event(id, sh, ts, r.nextInt(100000), r.nextLong(1000000L), word(r) + " " + word(r))
      }
    }
    // late shards: the third and sixth largest, whatever their names, so
    // the rows per cycle (and with them the freshness distribution) are the
    // same for every seed; never the head shard, so cycle 1 has real work
    val late = BacklogLateRanks.map(names).toSet
    Backlog(events, names, late, BacklogPageSize)
  }

  // ---- ingest, live part ----------------------------------------------

  final case class Row(key: Long, value: Long, grp: String)
  final case class Mutation(seq: Long, key: Long, value: Long, grp: String,
      insert: Boolean)

  /** `initial` is the table state before the stream starts (update clock 1,
    * seq 1..n); `mutations` arrive one every 1/rate s in order. */
  final case class Live(initial: IndexedSeq[Row], mutations: IndexedSeq[Mutation],
      rate: Double)

  val LiveInitialKeys = 4000
  /** One eighth of 12 800/s, the highest rate the CDC stream was measured
    * to sustain (the rate sweep in perfbench/README.md). */
  val LiveRate = 1600.0
  val LiveUpdateShare = 0.2
  val LiveUpdateSkew = 1.2

  def live(seed: Long, seconds: Double, rate: Double = LiveRate): Live = {
    val r = new SplittableRandom(seed ^ 0x5EED0002L)
    val grps = (0 until 6).map(i => s"g$i")
    val initial = (0 until LiveInitialKeys).map(k =>
      Row(k.toLong, r.nextLong(1000000L), grps(r.nextInt(grps.size))))
    val hot = shuffled(initial.map(_.key), r)
    val zipf = new Zipf(LiveInitialKeys, LiveUpdateSkew)
    val n = math.max(1, (rate * seconds).toInt)
    var nextKey = LiveInitialKeys.toLong
    val muts = (0 until n).map { i =>
      val seq = LiveInitialKeys.toLong + i + 1
      if (r.nextDouble() < LiveUpdateShare)
        Mutation(seq, hot(zipf.sample(r)), r.nextLong(1000000L),
          grps(r.nextInt(grps.size)), insert = false)
      else {
        val k = nextKey; nextKey += 1
        Mutation(seq, k, r.nextLong(1000000L), grps(r.nextInt(grps.size)), insert = true)
      }
    }
    Live(initial, muts, rate)
  }

  // ---- curate_batch ---------------------------------------------------

  final case class Doc(id: Long, text: String, emb: Array[Double])

  /** A corpus with planted structure. `family` maps each doc to its text
    * family (a root, its exact copies and its near-duplicates); `semantic`
    * maps a family representative to its semantic group (the root's
    * representative plus paraphrases carrying near-identical vectors).
    * `boiler` gives the boilerplate paragraph (index, 1-based first token)
    * of each doc that carries one. */
  final case class Corpus(docs: IndexedSeq[Doc], family: Map[Long, Int],
      semantic: Map[Long, Int], boiler: Map[Long, (Int, Int)]) {

    /** Survivors of exact and near-duplicate removal: one per family, the
      * lowest id (exact dedup keeps the lowest id per normalized text, and
      * connected components label with the lowest id). */
    lazy val familyReps: Set[Long] =
      docs.groupBy(d => family(d.id)).values.map(_.map(_.id).min).toSet

    /** What the whole pipeline must keep: family representatives, minus
      * every semantic-group member but the lowest id. */
    lazy val expectedKept: Set[Long] = {
      val dropped = familyReps.toSeq.filter(semantic.contains)
        .groupBy(semantic).values.flatMap(g => g.sorted.tail).toSet
      familyReps -- dropped
    }

    /** Docs among the family representatives whose boilerplate paragraph
      * also occurs in another representative: exactly these must report a
      * duplicated span, and it must cover the paragraph. */
    lazy val expectedSpanDocs: Map[Long, (Int, Int)] = {
      val reps = boiler.filter { case (id, _) => familyReps(id) }
      val shared = reps.values.groupBy(_._1).filter(_._2.size >= 2).keySet
      reps.collect { case (id, (b, start)) if shared(b) =>
        id -> (start, start + BoilerWords - 1) }
    }

    /** Near-duplicate pairs among exact-dedup survivors: pairs inside one
      * family whose word 3-gram Jaccard is at least `tau`. */
    def plantedPairs(tau: Double): Set[(Long, Long)] = {
      val byNorm = docs.groupBy(d => normalize(d.text)).values.map(_.minBy(_.id)).toSeq
      byNorm.groupBy(d => family(d.id)).values.flatMap { fam =>
        val sh = fam.map(d => d.id -> shingles(normalize(d.text))).sortBy(_._1)
        for {
          i <- sh.indices; j <- sh.indices if i < j
          if jaccard(sh(i)._2, sh(j)._2) >= tau
        } yield (sh(i)._1, sh(j)._1)
      }.toSet
    }
  }

  val CurateDocs = 1500
  val CurateExactShare = 0.05
  val CurateNearShare = 0.08
  val CurateParaShare = 0.05
  val CurateBoilerShare = 0.15
  val BoilerWords = 30
  val EmbDim = 64

  /** lower, strip to [a-z0-9 ], collapse spaces, trim: graft's
    * `normalize_text`, restated so expectations never call graft. */
  def normalize(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9 ]+", " ").replaceAll(" +", " ").trim

  def shingles(norm: String): Set[String] = {
    val t = norm.split(" ").filter(_.nonEmpty)
    if (t.length < 3) Set(t.mkString(" "))
    else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  private def gaussUnit(r: SplittableRandom): Array[Double] = {
    val v = Array.fill(EmbDim) {
      // Box-Muller from two uniforms: exact and seed-stable
      math.sqrt(-2.0 * math.log(1.0 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
    }
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def jitter(v: Array[Double], r: SplittableRandom): Array[Double] =
    v.map(x => x + (r.nextDouble() - 0.5) * 2e-7)

  def corpus(seed: Long): Corpus = {
    val r = new SplittableRandom(seed ^ 0x5EED0003L)
    val vocab = {
      val s = scala.collection.mutable.LinkedHashSet.empty[String]
      while (s.size < 3000) s += word(r)
      s.toIndexedSeq
    }
    val boilers = (0 until 3).map(_ => IndexedSeq.fill(BoilerWords)(vocab(r.nextInt(vocab.size))))
    val nExact = (CurateDocs * CurateExactShare).toInt
    val nNear = (CurateDocs * CurateNearShare).toInt
    val nPara = (CurateDocs * CurateParaShare).toInt
    val nRoots = CurateDocs - nExact - nNear - nPara

    // (words, family, boiler (index, 0-based word position), kind, source root)
    final case class Proto(words: IndexedSeq[String], fam: Int, boil: Option[(Int, Int)],
        kind: Char, root: Int)
    val roots = (0 until nRoots).map { f =>
      val len = 120 + r.nextInt(121)
      var w = IndexedSeq.fill(len)(vocab(r.nextInt(vocab.size)))
      val boil = if (r.nextDouble() < CurateBoilerShare) {
        val b = r.nextInt(boilers.size)
        val at = r.nextInt(len - BoilerWords)
        w = w.take(at) ++ boilers(b) ++ w.drop(at + BoilerWords)
        Some((b, at))
      } else None
      Proto(w, f, boil, 'r', f)
    }
    val copies = (0 until nExact).map { _ =>
      val root = roots(r.nextInt(nRoots))
      root.copy(kind = 'c')
    }
    val nears = (0 until nNear).map { _ =>
      val root = roots(r.nextInt(nRoots))
      val w = root.words.toArray
      val subs = 2 + r.nextInt(3)
      var done = 0
      while (done < subs) {
        val p = r.nextInt(w.length)
        val inBoiler = root.boil.exists { case (_, at) => p >= at && p < at + BoilerWords }
        if (!inBoiler) { w(p) = vocab(r.nextInt(vocab.size)); done += 1 }
      }
      root.copy(words = w.toIndexedSeq, kind = 'n')
    }
    val paras = (0 until nPara).map { i =>
      val len = 120 + r.nextInt(121)
      Proto(IndexedSeq.fill(len)(vocab(r.nextInt(vocab.size))), nRoots + i, None, 'p',
        r.nextInt(nRoots))
    }
    val protos = roots ++ copies ++ nears ++ paras
    val ids = shuffled((1 to protos.size).map(_.toLong * 3 + 11), r)

    val rootEmb = Array.fill(nRoots)(gaussUnit(r))
    val docs = protos.zip(ids).map { case (p, id) =>
      val text = p.kind match {
        // an exact copy differs only in case and punctuation, which
        // normalization removes
        case 'c' => p.words.zipWithIndex.map { case (w, i) =>
          if (i == 0) w.capitalize else if (i % 9 == 0) w + "," else w
        }.mkString(" ") + "."
        case _ => p.words.mkString(" ")
      }
      val emb = p.kind match {
        case 'r' => rootEmb(p.root)
        case _ => jitter(rootEmb(p.root), r)
      }
      Doc(id, text, emb)
    }
    val family = protos.zip(ids).map { case (p, id) => id -> p.fam }.toMap
    // semantic groups: a paraphrase joins its root family's group
    val famRep: Map[Int, Long] = protos.zip(ids).filter(_._1.kind != 'p')
      .groupBy(_._1.fam).map { case (f, xs) => f -> xs.map(_._2).min }
    val paraOf = protos.zip(ids).filter(_._1.kind == 'p')
    val semantic: Map[Long, Int] =
      (paraOf.map { case (p, id) => id -> p.root } ++
        paraOf.map(_._1.root).distinct.map(root => famRep(root) -> root)).toMap
    val boiler = protos.zip(ids).collect { case (p, id) if p.boil.isDefined =>
      id -> (p.boil.get._1, p.boil.get._2 + 1) }.toMap
    Corpus(docs, family, semantic, boiler)
  }

  /** Largest cosine between vectors of different semantic groups among the
    * given docs; the pipeline's threshold must sit well above it. */
  def maxForeignCosine(c: Corpus, ids: Set[Long]): Double = {
    val ds = c.docs.filter(d => ids(d.id))
    val group = ds.map(d => d.id -> c.semantic.getOrElse(d.id, -1 - d.id.toInt)).toMap
    var best = -1.0
    var i = 0
    while (i < ds.size) {
      var j = i + 1
      val a = ds(i).emb
      while (j < ds.size) {
        if (group(ds(i).id) != group(ds(j).id)) {
          val b = ds(j).emb
          var dot = 0.0; var na = 0.0; var nb = 0.0; var k = 0
          while (k < a.length) { dot += a(k) * b(k); na += a(k) * a(k); nb += b(k) * b(k); k += 1 }
          best = math.max(best, dot / math.sqrt(na * nb))
        }
        j += 1
      }
      i += 1
    }
    best
  }

  /** A stable digest of any generated input, for the determinism test. */
  def digest(x: Any): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def feed(v: Any): Unit = v match {
      case a: Array[Double] => a.foreach(d => md.update(java.lang.Double.toString(d).getBytes("UTF-8")))
      case p: Product => md.update(p.productPrefix.getBytes("UTF-8")); p.productIterator.foreach(feed)
      case m: Map[_, _] => m.toSeq.map { case (k, v) => s"$k=$v" }.sorted.foreach(s => md.update(s.getBytes("UTF-8")))
      case s: Set[_] => s.toSeq.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
      case i: Iterable[_] => i.foreach(feed)
      case o => md.update(String.valueOf(o).getBytes("UTF-8"))
    }
    feed(x)
    md.digest().map("%02x".format(_)).mkString
  }
}
