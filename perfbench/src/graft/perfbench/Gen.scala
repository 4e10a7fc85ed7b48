package graft.perfbench

import java.nio.file.{Files, Path}
import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every generator takes the workload seed as an
  * argument; the same seed gives byte-identical inputs. The program under
  * test only ever sees the files written here.
  */
object Gen {

  // ---------------------------------------------------------------- token table

  val Sources: Seq[String] = Seq("web", "books", "code", "wiki", "forums")

  /** Injected violation classes. Only even, non-zero row ids in a dirty
    * chunk are injected, so the odd row `i-1` a duplicate id points at
    * always keeps its own id and every class maps to exactly one outcome.
    */
  val Classes: Map[Int, String] = Map(
    0 -> "tokens.items.minimum", // tokens[0] = -5
    1 -> "tokens.items.maximum", // tokens[1] = 300000
    2 -> "dup_doc_id",           // doc_id = doc_id(i-1): a global uniqueness hit
    3 -> "n_tok.eq.size",        // n_tok = size(tokens) + 7
    4 -> "source.enum",          // source = "spam": also a referential hit
    5 -> "doc_id.minLength",     // doc_id = "x" (all such rows share one key)
    6 -> "tokens.minItems",      // tokens = []
    7 -> "tokens.uniqueItems")   // tokens[2] := tokens[3]

  /** Per-mille of injectable rows that get a class (8 classes share it). */
  val InjectPerMille = 80

  /** Rows [start, end) in `chunks` generation partitions. `dirty` decides,
    * from the row id and the chunk, whether a row may carry a violation;
    * `source` picks the row's (clean) source.
    */
  private def frame(spark: SparkSession, seed: Long, start: Long, end: Long, chunks: Int,
                    dirty: Column => Column, source: Column => Column): DataFrame = {
    val i = col("id")
    val h = pmod(xxhash64(lit(seed), lit("cls"), i), lit(1000L))
    val cls = when(dirty(i) && pmod(i, lit(2L)) === 0 && i > 0 && h < InjectPerMille,
      pmod(h, lit(8L)).cast("int")).otherwise(lit(-1))
    spark.range(start, end, 1, chunks)
      .withColumn("chunk", spark_partition_id())
      .select(i, cls.as("cls"),
        when(cls === 4, lit("spam")).otherwise(source(i)).as("source"))
  }

  /** Skewed clean source mix over the first `n` sources of
    * web .55 / books .15 / code .15 / wiki .10 / forums .05 (renormalized).
    */
  private def skewedSource(seed: Long, n: Int)(i: Column): Column = {
    val weights = Seq(55, 15, 15, 10, 5).take(n)
    val b = pmod(xxhash64(lit(seed), lit("src"), i), lit(weights.sum.toLong))
    val bounds = weights.scanLeft(0)(_ + _).tail
    Sources.take(n).zip(bounds).init.foldRight(lit(Sources(n - 1)): Column) {
      case ((s, hi), acc) => when(b < hi, lit(s)).otherwise(acc)
    }
  }

  /** Token-table rows from a class frame. Token ids are distinct within a
    * row by construction (the low 8 bits are the position), so the only
    * uniqueItems failures are the injected ones; the high bits are random.
    */
  private def tokenRows(seed: Long, f: DataFrame): DataFrame = {
    val i = col("id"); val cls = col("cls")
    val len = (lit(16) + pmod(xxhash64(lit(seed), lit("len"), i), lit(241L))).cast("int")
    val toks0 = transform(sequence(lit(0), len - 1),
      j => (pmod(xxhash64(lit(seed), i, j), lit(1024L)) * 256 + j).cast("int"))
    f.withColumn("t0", toks0).withColumn("len", len).select(
      when(cls === 5, lit("x"))
        .when(cls === 2, format_string("doc-%010d", i - 1))
        .otherwise(format_string("doc-%010d", i)).as("doc_id"),
      when(cls === 0, concat(array(lit(-5)), slice(col("t0"), lit(2), col("len") - 1)))
        .when(cls === 1, concat(slice(col("t0"), lit(1), lit(1)), array(lit(300000)),
          slice(col("t0"), lit(3), col("len") - 2)))
        .when(cls === 6, array().cast("array<int>"))
        .when(cls === 7, concat(slice(col("t0"), lit(1), lit(2)), array(element_at(col("t0"), 4)),
          slice(col("t0"), lit(4), col("len") - 3)))
        .otherwise(col("t0")).as("tokens"),
      col("cls"), col("source"), i)
      .withColumn("n_tok", when(cls === 3, size(col("tokens")) + 7).otherwise(size(col("tokens"))))
      .select(col("doc_id"), col("tokens"), col("n_tok"), col("source"), col("id"))
  }

  /** What the generator injected: rows per (source, class), class -1 = clean. */
  final case class Injected(counts: Map[(String, Int), Long]) {
    def +(o: Injected): Injected =
      Injected((counts.keySet ++ o.counts.keySet).map(k =>
        k -> (counts.getOrElse(k, 0L) + o.counts.getOrElse(k, 0L))).toMap)
    def rows: Long = counts.values.sum
    def ofClass(c: Int): Long = counts.collect { case ((_, cc), n) if cc == c => n }.sum
    /** Violation rows the validator must write, per constraint id. */
    def violationsByConstraint: Map[String, Long] =
      Classes.collect { case (c, id) if c != 2 => id -> ofClass(c) }
    /** Rows with at least one row-level violation (class 2 is global only). */
    def violatingRows: Long = counts.collect { case ((_, c), n) if c >= 0 && c != 2 => n }.sum
    /** Distinct duplicated doc_ids: one per class-2 row, plus "x" if shared. */
    def dupKeys: Long = ofClass(2) + (if (ofClass(5) >= 2) 1 else 0)
    def referentialRows: Long = ofClass(4)
    /** Per-partition (rows, violating rows), the manifest a fresh run writes. */
    def perPartition: Map[String, (Long, Long)] =
      counts.groupBy(_._1._1).map { case (p, m) =>
        p -> (m.values.sum, m.collect { case ((_, c), n) if c >= 0 && c != 2 => n }.sum)
      }
    def toLine: String = counts.toSeq.sorted.map { case ((s, c), n) => s"$s\t$c\t$n" }.mkString("\n")
  }
  object Injected {
    def fromLine(s: String): Injected = Injected(s.split("\n").filter(_.nonEmpty).map { l =>
      val Array(src, c, n) = l.split("\t"); (src, c.toInt) -> n.toLong
    }.toMap)
  }

  private def count(f: DataFrame): Injected =
    Injected(f.groupBy("source", "cls").count().collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap)

  private def writeV2(df: DataFrame, path: Path, parts: String*): Unit =
    df.write.mode(SaveMode.Overwrite).option("parquet.writer.version", "v2")
      .partitionBy(parts: _*).parquet(path.toString)

  /** Seeded half of `chunks`, dirty; the others hold only clean rows. */
  def dirtyChunks(seed: Long, chunks: Int): Set[Int] =
    new Random(seed).shuffle((0 until chunks).toList).take(chunks / 2).toSet

  /** The base token table at `dir`/table, partitioned by source, written
    * one file per (chunk, source): the clean chunks' files hold clean row
    * groups only. Returns what was injected.
    */
  def tokenTable(spark: SparkSession, seed: Long, rows: Long, chunks: Int, sources: Int,
                 dir: Path): Injected = {
    val dirty = dirtyChunks(seed, chunks)
    val f = frame(spark, seed, 0L, rows, chunks,
      _ => col("chunk").isin(dirty.toSeq: _*), skewedSource(seed, sources))
    writeV2(tokenRows(seed, f).drop("id"), dir.resolve("table"), "source")
    count(f)
  }

  /** One dirty append batch of `rows` rows, ids continuing after the base
    * table, spread over two seeded partitions and written under
    * `dir`/append/source=<s>/ as one file per partition.
    */
  def appendBatch(spark: SparkSession, seed: Long, baseRows: Long, rows: Long, sources: Int,
                  dir: Path): Injected = {
    val srcs = new Random(seed * 31 + 7).shuffle(Sources.take(sources).toList).take(2)
    val f = frame(spark, seed, baseRows, baseRows + rows, 1, _ => lit(true),
      i => element_at(typedLit(srcs), (pmod(xxhash64(lit(seed), lit("asrc"), i), lit(2L)) + 1).cast("int")))
    writeV2(tokenRows(seed, f).drop("id"), dir.resolve("append"), "source")
    count(f)
  }

  // ---------------------------------------------------------------- wide suite

  def wideCol(k: Int): String = f"c$k%02d"

  /** Wide int table: `cols` int columns with values in [0, 1000), plus a
    * key `id` and a 4-way string `grp` (the violations key/partition).
    */
  def wideTable(spark: SparkSession, seed: Long, rows: Long, cols: Int, dir: Path): Unit = {
    val i = col("id")
    val values = (0 until cols).map(k =>
      pmod(xxhash64(lit(seed), i, lit(k)), lit(1000L)).cast("int").as(wideCol(k)))
    val df = spark.range(0, rows, 1, 4).select(
      Seq(i.cast("string").as("id"), concat(lit("g"), pmod(i, lit(4L)).cast("string")).as("grp")) ++
        values: _*)
    df.write.mode(SaveMode.Overwrite).option("parquet.writer.version", "v2")
      .parquet(dir.resolve("wide").toString)
  }

  /** One seeded suite over the wide table: per column five keywords
    * (minimum, maximum, exclusiveMinimum, exclusiveMaximum, not/const),
    * each failing a small seeded share of rows. Returns
    * the JSON document and, per constraint id, the SQL predicate of its
    * FAILURE (the plain-SQL oracle the faces are checked against).
    */
  final case class WideSuite(json: String, failSql: Seq[(String, String)])

  def wideSuite(seed: Long, variant: Long, cols: Int): WideSuite = {
    val rnd = new Random(seed * 1000003L + variant)
    val props = new StringBuilder
    val fails = Seq.newBuilder[(String, String)]
    (0 until cols).foreach { k =>
      val c = wideCol(k)
      val lo = rnd.nextInt(16); val hi = 984 + rnd.nextInt(16)
      val xlo = rnd.nextInt(10) - 1; val xhi = 991 + rnd.nextInt(10)
      val v = rnd.nextInt(1000)
      if (k > 0) props ++= ","
      props ++= s""""$c":{"minimum":$lo,"maximum":$hi,"exclusiveMinimum":$xlo,""" +
        s""""exclusiveMaximum":$xhi,"not":{"const":$v}}"""
      fails ++= Seq(s"$c.minimum" -> s"$c < $lo", s"$c.maximum" -> s"$c > $hi",
        s"$c.exclusiveMinimum" -> s"$c <= $xlo", s"$c.exclusiveMaximum" -> s"$c >= $xhi",
        s"$c.not" -> s"$c = $v")
    }
    WideSuite(s"""{"$$id":"wide-$seed-$variant","properties":{${props.result()}}}""", fails.result())
  }

  // ---------------------------------------------------------------- curate

  private val Stop = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
  private val Langs = Seq("en", "en", "en", "fr", "de", "zh")

  /** Curation corpus of `n` documents over a 400-word vocabulary with
    * stopwords. The shape is the same for every seed, only the words
    * change: 10% are too short for the quality funnel, 12% are
    * near-duplicates (one word changed) of a distinct earlier long
    * document, and 8% carry a 12-word run copied out of a benchmark-slice
    * document (md5(doc_id) starting with "0", the engine's bench split), so
    * every curation stage drops rows and the dedup graph has the same
    * components. Written as one parquet file, like the test-data
    * `documents` table.
    */
  def curateDocs(spark: SparkSession, seed: Long, n: Int, dir: Path): Int = {
    val rnd = new Random(seed)
    val vocab = (0 until 400).map(k => s"w${Integer.toString(k * 7919 % 46656, 36)}")
    def isBench(id: Int): Boolean =
      (java.security.MessageDigest.getInstance("MD5").digest(id.toString.getBytes("UTF-8"))(0) & 0xf0) == 0
    def words(len: Int): Array[String] =
      Array.fill(len)(if (rnd.nextInt(8) == 0) Stop(rnd.nextInt(Stop.size)) else vocab(rnd.nextInt(vocab.size)))
    val (nShort, nDup, nContam) = (n / 10, n * 12 / 100, n * 8 / 100)
    val nFresh = n - nShort - nDup - nContam
    // fresh long documents first (lengths 30..89 in a fixed cycle), then the
    // short ones, then the copies, which only ever copy a fresh document
    val texts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    (0 until nFresh).foreach(i => texts += words(30 + (i * 37) % 60))
    (0 until nShort).foreach(i => texts += words(8 + i % 14))
    val originals = rnd.shuffle((0 until nFresh).filterNot(isBench).toList).take(nDup)
    originals.foreach { o =>
      val t = texts(o).clone(); t(rnd.nextInt(t.length)) = vocab(rnd.nextInt(vocab.size)); texts += t
    }
    val bench = (0 until nFresh).filter(isBench)
    (0 until nContam).foreach { i =>
      val src = texts(bench(i % bench.size)); val at = rnd.nextInt(src.length - 12)
      val t = words(40 + i % 20); val pos = rnd.nextInt(t.length - 12)
      texts += t.take(pos) ++ src.slice(at, at + 12) ++ t.drop(pos)
    }
    import spark.implicits._
    texts.zipWithIndex.map { case (t, id) =>
      val s = t.mkString(" ")
      (id.toLong, s, Langs(rnd.nextInt(Langs.size)), s"src${rnd.nextInt(5)}", s.length.toLong)
    }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir.resolve("tmp_docs").toString)
    val part = Files.list(dir.resolve("tmp_docs")).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, dir.resolve("documents.parquet"))
    Files.walk(dir.resolve("tmp_docs")).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    n
  }
}
