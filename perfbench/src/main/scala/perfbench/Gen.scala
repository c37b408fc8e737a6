package perfbench

import scala.util.Random

/** Seeded input generator. Every input a workload feeds the program is
  * derived here from the run's seed, so the same seed gives the same
  * inputs and the program sees nothing else. Pure data: writing the
  * rows out is the workload's job.
  */
object Gen {

  // ---- etl_serve ----------------------------------------------------

  /** One ETL cycle's grid scan: which regions, from which start date,
    * over how many days and how fine a grid.
    */
  case class GridParams(regions: Seq[String], start: String, days: Int,
      nLat: Int, nLon: Int) {
    def options: Map[String, String] = Map(
      "regions" -> regions.mkString(","), "start" -> start,
      "days" -> days.toString, "nlat" -> nLat.toString,
      "nlon" -> nLon.toString)
    /** The grid after the scanned window: day `i` of the serving phase's
      * writer, one new day per refresh.
      */
    def nextDay(i: Int): GridParams = copy(
      start = java.time.LocalDate.parse(start).plusDays(days + i).toString,
      days = 1)
  }

  val RegionPool: IndexedSeq[String] = (0 until 24).map(i => f"r$i%02d")

  def grid(seed: Long, nRegions: Int, days: Int, nLat: Int,
      nLon: Int): GridParams = {
    val rnd = new Random(seed)
    val regions = rnd.shuffle(RegionPool).take(nRegions).sorted
    val month = 1 + rnd.nextInt(12)
    GridParams(regions, f"2023-$month%02d-01", days, nLat, nLon)
  }

  /** One dashboard request: a MartServing shape with its arguments. */
  sealed trait Query { def shape: String }
  case object Keys extends Query { val shape = "keys" }
  case class Range(regions: Seq[String], from: Int, to: Int) extends Query {
    val shape = "range"
  }
  case class Wide(regions: Seq[String], metric: String) extends Query {
    val shape = "wide"
  }
  case object Kpi extends Query { val shape = "kpi" }

  val WideMetrics: IndexedSeq[String] =
    IndexedSeq("t2m_mean", "tp_sum", "swvl1_mean", "wind_speed_10m_mean")

  /** Shapes of one block of eight requests: keys, range, wide, kpi as
    * 1 : 4 : 2 : 1. Range loads hold the middle half of the sample, so
    * the median lies inside one shape's latencies instead of on the
    * edge between two of them.
    */
  val Mix: IndexedSeq[Int] = IndexedSeq(0, 1, 1, 1, 1, 2, 2, 3)

  /** A client's endless request stream: blocks of [[Mix]], each in a
    * seeded order. The seed fixes the order and each request's IN-list
    * and window; `days` bounds the windows to the served mart.
    */
  def requests(seed: Long, client: Int, regions: Seq[String],
      days: Int): Iterator[Query] = {
    val rnd = new Random(seed * 1000003L + client)
    def inList(): Seq[String] =
      rnd.shuffle(regions).take(1 + rnd.nextInt(math.min(4, regions.size))).sorted
    Iterator.continually(rnd.shuffle(Mix)).flatten.map {
      case 0 => Keys
      case 1 =>
        val a = rnd.nextInt(days); val b = a + rnd.nextInt(days - a)
        Range(inList(), a, b)
      case 2 => Wide(inList(), WideMetrics(rnd.nextInt(WideMetrics.size)))
      case _ => Kpi
    }
  }

  // ---- corpus -------------------------------------------------------

  /** A row of the `documents` table (the full schema the library reads). */
  case class Doc(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)

  val Vocab: IndexedSeq[String] = IndexedSeq("spark", "window", "merge",
    "table", "column", "vector", "stream", "value", "data", "small", "join",
    "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch")
  val Langs: IndexedSeq[String] = IndexedSeq("en", "en", "en", "de", "fr",
    "es", "zh")
  val NSources = 20

  /** Words per chain member, and the longest chain. A member shares
    * all but one word with its neighbour (Jaccard 11/13 ≈ 0.85), two
    * steps apart 10/14 ≈ 0.71, three apart 9/15 = 0.6: every neighbour
    * pair clears τ = 0.7 and the ends of any chain of four or more do
    * not, so closure needs about log2(len/2) label rounds.
    */
  val ChainWords = 12
  val MaxChain = 16

  case class Corpus(docs: IndexedSeq[Doc], chainLengths: Seq[Int],
      batchOf: Map[Long, Int])

  val RareWords = 2000

  /** `nNatural` documents of 6-40 words, half from the sf0.1 corpus's
    * 30-word vocabulary and half from `RareWords` rare words, so that
    * natural pairs seldom reach τ and the closure work is set by the
    * chains rather than by chance; about 2 % are exact copies of an
    * earlier document) plus `nChains` near-duplicate chains, one of them of
    * the fixed maximum length so every seed needs the same number of
    * closure rounds. Doc ids are a seeded permutation (ascending along
    * each chain), so the `doc_id % 20 == 0` eval split is seeded too. `batchOf` assigns
    * each document to one of `nBatches` fold micro-batches: natural
    * documents at random, chain members in turn from a seeded offset,
    * so every batch holds part of every chain and the fold's work
    * varies little from seed to seed.
    */
  def corpus(seed: Long, nNatural: Int, nChains: Int,
      nBatches: Int): Corpus = {
    val rnd = new Random(seed)
    val lengths = (MaxChain +: Seq.fill(nChains - 1)(4 + rnd.nextInt(MaxChain - 3)))
    val texts = IndexedSeq.newBuilder[(String, String, Int)] // (source, text, batch)
    val natural = (0 until nNatural).map { i =>
      val source = s"src${rnd.nextInt(NSources)}"
      val n = 6 + rnd.nextInt(35)
      (source, Seq.fill(n)(
        if (rnd.nextBoolean()) Vocab(rnd.nextInt(Vocab.size))
        else s"w${rnd.nextInt(RareWords)}").mkString(" "))
    }
    val withCopies = natural.zipWithIndex.map { case ((src, text), i) =>
      if (i > 0 && rnd.nextInt(50) == 0) {
        val j = rnd.nextInt(i)
        (natural(j)._1, natural(j)._2)
      } else (src, text)
    }
    texts ++= withCopies.map { case (src, text) => (src, text, rnd.nextInt(nBatches)) }
    lengths.zipWithIndex.foreach { case (len, c) =>
      val source = s"src${rnd.nextInt(NSources)}"
      val pool = (0 until ChainWords + len).map(j => s"c${c}w$j")
      val words = pool.take(ChainWords).toArray
      val offset = rnd.nextInt(nBatches)
      (0 until len).foreach { k =>
        if (k > 0) words((k - 1) % ChainWords) = pool(ChainWords + k - 1)
        texts += ((source, words.mkString(" "), (k + offset) % nBatches))
      }
    }
    val all = texts.result()
    val shuffled = rnd.shuffle((0L until all.size.toLong).toIndexedSeq)
    // each chain's ids ascend along the chain: the smallest label starts
    // at one end and must cross the whole chain, so the closure's round
    // count is set by the longest chain, not by where its ids fell
    val chainStarts = lengths.scanLeft(withCopies.size)(_ + _)
    val ids = shuffled.take(withCopies.size) ++ chainStarts.zip(chainStarts.tail)
      .flatMap { case (a, b) => shuffled.slice(a, b).sorted }
    val docs = all.zip(ids).map { case ((source, text, _), id) =>
      Doc(id, text, Langs(rnd.nextInt(Langs.size)), source, text.length.toLong)
    }
    Corpus(docs, lengths, all.zip(ids).map { case ((_, _, b), id) => id -> b }.toMap)
  }

  // ---- ann ----------------------------------------------------------

  case class Vec(vec_id: Long, embedding: Array[Float], label: Int)

  /** `n` vectors of `dim` floats: `nLabels` Gaussian centres, each
    * holding micro-clusters of ten vectors around a shared offset, so
    * that every vector's nearest neighbours are well defined (its
    * micro-cluster mates). The seed draws the centres, the offsets and
    * the noise, and permutes the vec_ids, so `vec_id < nQueries` — the
    * query set of every search — is a different sample for each seed.
    */
  def embeddings(seed: Long, n: Int, dim: Int, nLabels: Int): IndexedSeq[Vec] = {
    val rnd = new Random(seed)
    val centres = Array.fill(nLabels, dim)(rnd.nextGaussian())
    val ids = rnd.shuffle((0L until n.toLong).toIndexedSeq)
    (0 until n).grouped(10).flatMap { micro =>
      val label = rnd.nextInt(nLabels)
      val offset = Array.fill(dim)(0.8 * rnd.nextGaussian())
      micro.map { i =>
        val v = Array.tabulate(dim)(j =>
          (centres(label)(j) + offset(j) + 0.15 * rnd.nextGaussian()).toFloat)
        Vec(ids(i), v, label)
      }
    }.toIndexedSeq
  }
}
