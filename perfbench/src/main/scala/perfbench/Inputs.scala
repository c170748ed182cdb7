package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every input a workload reads is made here from
  * `--seed`, with the shapes of the driver's sf0.1 testdata: `orders`
  * (status, priority, customer, total, date per order), word-soup
  * `documents` over the testdata's 31-word vocabulary, and 64-d unit
  * `embeddings` drawn around 10 cluster centres. The same seed gives the
  * same rows. */
object Inputs {

  def rowKey(i: Long): String = f"$i%010d"

  /** Bits of a seeded hash of (`id`, `salt`), as a non-negative Long column. */
  private def h(seed: Long, id: Column, salt: Int): Column =
    abs(xxhash64(lit(seed), id, lit(salt)))

  /** Engine cells of `rows` orders, 5 cells each (families `o` and `m`),
    * `versions` timestamped versions per cell (ts = 1..versions), in the
    * `(row_key, family, qualifier, ts, value)` shape `writeBulk` takes.
    * Values differ per version, so every version is a distinct cell. */
  def orderCells(s: SparkSession, seed: Long, rows: Long,
      versions: Int): DataFrame = {
    val v = col("v")
    val base = s.range(rows).select(col("id"),
        explode(sequence(lit(1), lit(versions))).as("v"))
    def pick(salt: Int, choices: String*): Column =
      element_at(array(choices.map(lit): _*),
        (pmod(h(seed, col("id") * 8 + v, salt), lit(choices.size.toLong)) + 1)
          .cast("int"))
    val entries = Seq(
      ("o", "status", pick(1, "O", "F", "P"), lit(null).cast("double")),
      ("o", "priority",
        pick(2, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        lit(null).cast("double")),
      ("o", "custkey",
        (pmod(h(seed, col("id") * 8 + v, 3), lit(15000L)) + 1).cast("string"),
        lit(null).cast("double")),
      ("m", "total", lit(null).cast("string"),
        round(pmod(h(seed, col("id") * 8 + v, 4), lit(50000000L)) / 100.0 +
          850.0, 2)),
      ("m", "date",
        date_format(date_add(lit("1992-01-01").cast("date"),
          pmod(h(seed, col("id") * 8 + v, 5), lit(2400L)).cast("int")),
          "yyyy-MM-dd"),
        lit(null).cast("double")))
    val cells = entries.map { case (f, q, vs, vd) =>
      base.select(lpad(col("id").cast("string"), 10, "0").as("row_key"),
        lit(f).as("family"), lit(q).as("qualifier"), v.cast("long").as("ts"),
        valueStruct(when(vs.isNotNull, "string").otherwise("f64"), vs, vd)
          .as("value"))
    }
    cells.reduce(_ unionAll _)
  }

  /** The engine's stored cell `value` struct (string or f64 payload). */
  private def valueStruct(vtype: Column, s: Column, f64: Column): Column =
    struct(vtype.as("vtype"), s.as("s"),
      lit(null).cast("boolean").as("b"),
      lit(null).cast("short").as("u8"),
      lit(null).cast("int").as("i32"),
      lit(null).cast("long").as("i64"),
      lit(null).cast("float").as("f32"),
      f64.as("f64"))

  val Vocabulary: IndexedSeq[String] = IndexedSeq("spark", "window", "merge",
    "table", "column", "vector", "stream", "value", "data", "small", "join",
    "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch")
  private val Langs = IndexedSeq("en", "en", "en", "zh", "es", "fr", "de")

  final case class Doc(docId: Long, text: String, lang: String,
      source: String)

  /** A curation corpus: `nDocs` natural documents at ids `8·i` (the
    * in-range spacing `curateToFiles` needs for id-ordered batches),
    * embeddings for the first `nEmb` of them, and two kinds of seeded
    * plants right after a base document: an exact copy at `8·i+1` and a
    * word-reversed copy at `8·i+2` that shares the base's embedding. */
  final case class Corpus(docs: IndexedSeq[Doc],
      embeddings: IndexedSeq[(Long, Array[Float])], exactPlants: Set[Long],
      reversedPlants: Set[Long]) {
    def textBytes: Long = docs.iterator.map(_.text.length.toLong).sum
  }

  def corpus(seed: Long, nDocs: Int, nEmb: Int, plantEvery: Int): Corpus = {
    val rnd = new scala.util.Random(seed)
    val dim = 64
    val centres = IndexedSeq.fill(10)(unit(Array.fill(dim)(rnd.nextGaussian())))
    val natural = (0 until nDocs).map { i =>
      val n = 10 + rnd.nextInt(91)
      Doc(8L * i, Iterator.fill(n)(Vocabulary(rnd.nextInt(Vocabulary.size)))
        .mkString(" "), Langs(rnd.nextInt(Langs.size)), s"src${rnd.nextInt(20)}")
    }
    val emb = (0 until nEmb).map { i =>
      val c = centres(rnd.nextInt(centres.size))
      8L * i -> unit(c.map(x => x + 0.35 * rnd.nextGaussian()))
    }
    val embOf = emb.toMap
    val bases = (0 until nEmb).filter(_ => rnd.nextInt(plantEvery) == 0)
    val exact = bases.filter(_ => rnd.nextBoolean())
    val reversed = bases.filterNot(exact.toSet)
    val exactDocs = exact.map(i => natural(i).copy(docId = 8L * i + 1))
    val revDocs = reversed.map { i =>
      val b = natural(i)
      b.copy(docId = 8L * i + 2, text = b.text.split(" ").reverse.mkString(" "))
    }
    val revEmb = reversed.map(i => (8L * i + 2) -> embOf(8L * i))
    Corpus((natural ++ exactDocs ++ revDocs).sortBy(_.docId),
      (emb ++ revEmb).sortBy(_._1),
      exactDocs.map(_.docId).toSet, revDocs.map(_.docId).toSet)
  }

  private def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  private val EmbSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  /** Write the corpus as `dir/documents.parquet/` split into `files`
    * id-ordered parquet files with increasing modification times (the file
    * source's arrival order), and `dir/embeddings.parquet/`. */
  def writeCorpus(s: SparkSession, c: Corpus, dir: Path, files: Int): Unit = {
    val docDir = dir.resolve("documents.parquet")
    Files.createDirectories(docDir)
    val per = math.ceil(c.docs.size.toDouble / files).toInt
    c.docs.grouped(per).zipWithIndex.foreach { case (part, k) =>
      val rows = part.map(d =>
        Row(d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      val tmp = dir.resolve(s"_doc_tmp_$k")
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), DocSchema)
        .write.parquet(tmp.toString)
      val src = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val dst = docDir.resolve(f"part-$k%05d.parquet")
      Files.move(src, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + k * 1000L))
      Util.deleteTree(tmp)
    }
    val embRows = c.embeddings.map { case (id, e) =>
      Row(id, e.toSeq, (id % 10).toInt)
    }
    s.createDataFrame(s.sparkContext.parallelize(embRows, 1), EmbSchema)
      .write.parquet(dir.resolve("embeddings.parquet").toString)
  }
}
