package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.SparkEntry

/** The read-side workload: `SparkEntry.queries` entries over the
  * `documents` and `embeddings` tables in `perfbench/data` (the only two
  * tables these entries read): the first 2000 and 800 rows of the sf0.1
  * test tables (see `data/sample.py`). The tables are fixed, so the golden
  * row counts and hashes hold for every run; the run's seed only permutes
  * the order in which the entries are submitted. */
object Readside {

  /** The entries a pass runs: the read-side leaves ROADMAP names — heavy
    * (q27 q56 q60 q83) and light (q34 q35 q40 q45 q46 q64 q70) — and the
    * snapshot layer's delete lifecycle (c22). All 105 entries, or any
    * entry that reads `CrawlQueries`' shared crawl fixture (c03–c21,
    * itself a cold crawl), do not fit one run's time budget on a 4-core
    * VM. */
  val Ids: Seq[String] = Seq("q27", "q34", "q35", "q40", "q45", "q46", "q56",
    "q60", "q64", "q70", "q83", "c22")

  def entries: Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.filter(e => Ids.contains(e._1.take(3))).sortBy(_._1)

  // ----------------------------------------------------------- correctness

  /** Order-insensitive content hash of an entry's rows. Doubles are
    * compared to 9 significant digits, so a sum whose last bits depend on
    * the order partial aggregates merge in still hashes the same. None of
    * the entries a pass runs has a wall-clock or file-layout column. */
  def digest(schema: StructType, rows: Array[Row]): (Long, String) = {
    val lines = rows.map(row => schema.fields.indices.map(i => norm(row.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().take(12).map(b => f"$b%02x").mkString)
  }

  private def norm(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toString
    case x: Float => norm(x.toDouble)
    case b: Array[Byte] => java.util.Arrays.hashCode(b).toString
    case s: scala.collection.Map[_, _] => s.toSeq.map { case (k, x) => norm(k) + "→" + norm(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case r: Row => (0 until r.length).map(i => norm(r.get(i))).mkString("(", ",", ")")
    case o => o.toString
  }

  /** Golden file: `entry rows hash` per line, recorded by `run.py --record-golden`. */
  def readGolden(path: java.nio.file.Path): Map[String, (Long, String)] =
    scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .filterNot(l => l.isBlank || l.startsWith("#"))
      .map(_.split("\\s+")).map(a => a(0) -> (a(1).toLong, a(2))).toMap

  /** Seeded permutation of the entries for pass `pass`. */
  def order(seed: Long, pass: Int): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val r = new scala.util.Random(seed * 1000003L + pass)
    r.shuffle(entries)
  }

  // --------------------------------------------------------------- kernels

  /** `graft.functions` kernels, each as a noop write of one projection
    * over a fixed input: the crawl's URL kernel over `url`, or the read
    * side's text kernels over `text`, a citing sentence `body` and
    * precomputed `shingles`. The caller subtracts the `scan` case. */
  def kernels(in: DataFrame, crawl: Boolean): Seq[(String, DataFrame)] = {
    import graft.functions._
    val t = col("text")
    val u = col("url")
    if (crawl) Seq(
      "scan" -> in.select(length(u)),
      "url_key" -> in.select(UrlFunctions.canonicalizeUrl(u), UrlFunctions.urlHash(u),
        UrlFunctions.extractDocId(u)))
    else Seq(
      "scan" -> in.select(length(t), length(col("body")), size(col("shingles"))),
      "text_stats" -> in.select(TextFunctions.textStatsCol(t)),
      "word_ngrams" -> in.select(size(SimilarityFunctions.wordNgrams(t, 3))),
      "minhash" -> in.select(SimilarityFunctions.minhashSignature(col("shingles"), 64)),
      "extract_eclis" -> in.select(size(EcliFunctions.extractEclis(col("body")))))
  }
}
