package graft.perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.zip.CRC32

import scala.collection.mutable
import scala.util.Random

import graft.schema.Contracts

/** Seeded input generator. Every expected value is computed here from
  * the rows written, in plain Scala, never by calling the program: the
  * benchmark compares the program's outputs against these values.
  *
  * Retail expected values are named Long aggregates per table; [[Checks]]
  * holds the Spark expressions that compute the same names over the
  * program's output. Corpus expected values are the planted duplicate
  * pairs and exact shingle Jaccard similarities, and the components and
  * keepers that follow from a given set of pairs. */
object Gen {

  def crc(s: String): Long = {
    val c = new CRC32
    c.update(s.getBytes(UTF_8))
    c.getValue
  }

  /** The as-of instant Pipeline takes; only the customers dimension,
    * which this benchmark does not load, reads it. */
  def asOfTimestamp: java.sql.Timestamp =
    java.sql.Timestamp.from(LocalDateTime.of(2024, 1, 1, 0, 0).toInstant(ZoneOffset.UTC))

  /** Writes a headered CSV; a None field is written empty, which the
    * CSV reader turns into NULL. */
  def writeCsv(path: Path, header: Seq[String],
               rows: Iterator[Seq[Option[String]]]): Long = {
    Files.createDirectories(path.getParent)
    val w = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(path), UTF_8), 1 << 16)
    try {
      w.write(header.mkString(","))
      w.write('\n')
      rows.foreach { r =>
        w.write(r.map(_.getOrElse("")).mkString(","))
        w.write('\n')
      }
    } finally w.close()
    Files.size(path)
  }

  // ---------------------------------------------------------------- retail

  final case class Sale(id: Long, ts: String, cust: Long, prod: Long,
                        store: Long, qty: Long, price: String,
                        disc: Option[String]) {
    def fields: Seq[Option[String]] = Seq(Some(id.toString), Some(ts),
      Some(cust.toString), Some(prod.toString), Some(store.toString),
      Some(qty.toString), Some(price), disc)
    /** Same arithmetic, in the same order, as the sales_fact model. */
    def net: Double = {
      val gross = qty.toDouble * price.toDouble
      gross - gross * (discPct / 100.0)
    }
    def discPct: Double = disc.fold(0.0)(_.toDouble)
  }

  /** Running expected aggregates of a sales_fact table. */
  final class SalesState {
    val rows = mutable.LongMap.empty[Sale]
    private var pkCrc, netMilli, discounted, monthCrc = 0L
    private def add(s: Sale, sign: Long): Unit = {
      pkCrc += sign * crc(s.id.toString)
      netMilli += sign * math.floor(s.net * 1000).toLong
      if (s.discPct > 0) discounted += sign
      monthCrc += sign * crc(s.ts.substring(0, 7))
    }
    def put(s: Sale): Unit = {
      rows.get(s.id).foreach(add(_, -1))
      rows(s.id) = s
      add(s, 1)
    }
    def expected: Map[String, Long] = Map("rows" -> rows.size.toLong,
      "pk_crc" -> pkCrc, "net_milli" -> netMilli,
      "discounted" -> discounted, "month_crc" -> monthCrc)
  }

  /** Rows of the base sales file, and the id ranges of the customers,
    * products and stores its rows reference. */
  final case class RetailSize(sales: Int, customers: Int, products: Int,
                              stores: Int)

  /** Seeded "dirt" the pipeline cleans rather than rejects: a share of
    * rows repeat an earlier primary key with different values (the
    * first one in file order survives), a share have a NULL primary key
    * (dropped), and defaulted columns carry NULLs. No two rows are
    * identical, which the extract gate would reject. */
  private val DupPkShare = 0.01
  private val NullPkShare = 0.005
  private val NullShare = 0.02

  /** Writes the base sales CSV, dirt included, and returns the rows
    * that survive the pipeline's cleaning. */
  def writeSales(seed: Long, size: RetailSize, path: Path): Seq[Sale] = {
    val r = new Random(seed * 1000003L + crc("sales"))
    val n = size.sales
    val base = (1L to n.toLong).map(randomSale(r, _, size))
    // a NULL-PK row carries id -1 until it is written
    val seen = mutable.HashSet.empty[Sale] ++ base
    def fresh(id: Long): Sale =
      Iterator.continually(randomSale(r, id, size)).find(seen.add).get
    val out = mutable.ArrayBuffer.empty[Sale] ++ base
    // each duplicate goes somewhere after its original; inserting from
    // the last original backwards keeps the earlier positions valid
    r.shuffle((0 until n).toVector).take((n * DupPkShare).toInt).sortBy(-_)
      .foreach { i =>
        out.insert(math.min(i + 1 + r.nextInt(n - i), out.size), fresh(i + 1L))
      }
    (0 until (n * NullPkShare).toInt).foreach { _ =>
      out.insert(r.nextInt(out.size + 1), fresh(-1L))
    }
    writeCsv(path, Contracts.ExpectedColumns("sales"), out.iterator.map { s =>
      (if (s.id < 0) None else Some(s.id.toString)) +: s.fields.tail
    })
    base
  }

  /** A random "yyyy-MM-dd HH:mm:ss" time within `year`. */
  private def ts(r: Random, year: Int): String = {
    val d = LocalDate.of(year, 1, 1).plusDays(r.nextInt(365).toLong)
    f"$d ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"
  }

  /** A sale with random values; a NULL discount is defaulted to 0. */
  def randomSale(r: Random, id: Long, size: RetailSize): Sale = {
    val disc = Seq("0", "5", "10", "12.5", "20")(r.nextInt(5))
    Sale(id, ts(r, 2023), 1L + r.nextInt(size.customers), 1L + r.nextInt(size.products),
      1L + r.nextInt(size.stores), 1L + r.nextInt(20),
      f"${1 + r.nextInt(2000)}.${r.nextInt(100)}%02d",
      if (r.nextDouble() < NullShare) None else Some(disc))
  }

  /** One change batch against a sales state: four fifths of its rows
    * give existing keys new values, one fifth adds new keys. Written to
    * `path`; `commit` applies it to the expected state once the program
    * has published it. */
  final class ChangeBatch(val path: Path, val rows: Seq[Sale],
                          val bytes: Long, state: SalesState) {
    def commit(): Unit = rows.foreach(state.put)
    /** Row count of the table once this batch is applied. */
    def rowsAfter: Long =
      state.rows.size + rows.count(r => !state.rows.contains(r.id)).toLong
  }

  def changeBatch(seed: Long, index: Int, state: SalesState,
                  size: RetailSize, nRows: Int, path: Path): ChangeBatch = {
    val r = new Random(seed * 7919L + index)
    val keys = state.rows.keysIterator.toArray
    val nNew = nRows / 5
    val upd = mutable.LinkedHashSet.empty[Long]
    while (upd.size < nRows - nNew) upd += keys(r.nextInt(keys.length))
    val next = keys.max + 1
    val rows = upd.toSeq.map(id => randomSale(r, id, size)) ++
      (0 until nNew).map(k => randomSale(r, next + k, size))
    val shuffled = r.shuffle(rows)
    val bytes = writeCsv(path, Contracts.ExpectedColumns("sales"),
      shuffled.iterator.map(_.fields))
    new ChangeBatch(path, shuffled, bytes, state)
  }

  // ---------------------------------------------------------------- corpus

  /** Minhash LSH parameters the corpus workload calls the program with. */
  val ShingleN = 3
  val MinhashK = 32
  val Bands = 8
  val Threshold = 0.5
  val Sources: Seq[(String, Int)] = Seq("curated" -> 0, "books" -> 1, "web" -> 2)

  /** A seeded corpus with planted near-duplicate clusters: each planted
    * cluster is an original plus one or two copies with a share of
    * their words replaced. Documents outside the clusters share almost
    * no shingles with any other. */
  final class Corpus(seed: Long, nDocs: Int, words: Int, copyShare: Double,
                     editShare: Double) {
    private val r = new Random(seed * 1000003L + 77)
    private val vocab: Vector[String] = {
      val letters = "abcdefghijklmnopqrstuvwxyz"
      val s = mutable.LinkedHashSet.empty[String]
      while (s.size < 4000)
        s += Seq.fill(3 + r.nextInt(6))(letters(r.nextInt(26))).mkString
      s.toVector
    }
    private def word() = vocab(r.nextInt(vocab.size))

    val (texts: Vector[String], clusters: Seq[Seq[Int]]) = {
      val nCopies = (nDocs * copyShare).toInt
      val docs = mutable.ArrayBuffer.empty[(Array[String], Int)] // words, cluster
      val cl = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Int]]
      var copies = 0
      while (docs.size < nDocs) {
        val w = Array.fill(words)(word())
        if (copies < nCopies && r.nextDouble() < copyShare * 1.2) {
          val k = math.min(if (r.nextInt(10) < 3) 2 else 1, nCopies - copies)
          val members = mutable.ArrayBuffer(docs.size)
          docs += ((w, cl.size))
          (0 until k).foreach { _ =>
            members += docs.size
            docs += ((w.map(x => if (r.nextDouble() < editShare) word() else x),
              cl.size))
          }
          copies += k
          cl += members
        } else docs += ((w, -1))
      }
      // scatter the docs so cluster members do not sit next to each other
      val order = r.shuffle(docs.indices.toVector).take(nDocs)
      val pos = order.zipWithIndex.toMap
      (order.map(i => docs(i)._1.mkString(" ")),
        cl.toSeq.map(_.flatMap(pos.get).toSeq).filter(_.size > 1))
    }
    val ids: Vector[Long] = texts.indices.map(_ + 1L).toVector
    val sources: Vector[String] = texts.indices.map(_ =>
      Sources(r.nextInt(Sources.size))._1).toVector
    val planted: Set[(Long, Long)] = clusters.flatMap { c =>
      for (a <- c; b <- c if a < b) yield (ids(a), ids(b))
    }.toSet

    def write(path: Path): Long = writeCsv(path, Seq("doc_id", "source", "text"),
      texts.indices.iterator.map(i => Seq(Some(ids(i).toString),
        Some(sources(i)), Some(texts(i)))))

    private val shingleSets = mutable.LongMap.empty[Set[String]]
    private def shingles(id: Long): Set[String] =
      shingleSets.getOrElseUpdate(id,
        texts((id - 1).toInt).split(" ").sliding(ShingleN).map(_.mkString(" ")).toSet)

    /** Exact Jaccard similarity of two documents' word shingle sets. */
    def jaccard(a: Long, b: Long): Double = {
      val (x, y) = (shingles(a), shingles(b))
      val inter = x.count(y.contains)
      inter.toDouble / (x.size + y.size - inter)
    }

    /** Component label (the smallest id reachable) of every doc, over
      * the given pairs, by union-find. */
    def components(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
      val parent = mutable.LongMap.empty[Long]
      ids.foreach(i => parent(i) = i)
      def find(x: Long): Long = {
        var p = x
        while (parent(p) != p) p = parent(p)
        parent(x) = p
        p
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      ids.map(i => i -> find(i)).toMap
    }

    /** (component, keeper id, keeper source, keeper priority, size) for
      * the given component labels: the member with the best source
      * priority, then the smallest id. */
    def keepers(comps: Map[Long, Long]): Set[(Long, Long, String, Int, Long)] = {
      val prio = Sources.toMap
      ids.indices.groupBy(i => comps(ids(i))).map { case (c, m) =>
        val k = m.minBy(i => (prio(sources(i)), ids(i)))
        (c, ids(k), sources(k), prio(sources(k)), m.size.toLong)
      }.toSet
    }
  }
}
