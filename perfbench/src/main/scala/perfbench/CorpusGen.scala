package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A seeded text corpus and embedding set shaped like the repository's
  * sf0.1 `documents` and `embeddings` tables, amplified in-process the
  * way the repository's scale smoke does it: every replica appends its
  * own suffix, so replicas are distinct but similar and each keeps the
  * base duplicate structure.
  *
  * The shape, as measured on the sf0.1 tables (5,000 documents, 2,000
  * vectors): documents of 10 to 100 words, uniformly spread, over a
  * vocabulary of 30 words of about 4.5 letters, used about equally
  * often; 5.1% of documents repeat an earlier document with the word
  * "dup" appended (3-shingle Jaccard ≥ 0.98 with it); 0.16% are exact
  * copies. Vectors are unit-norm, 64-dimensional, with 10 labels whose
  * centroids lie about 0.07 from the origin, so the labels barely
  * cluster. The base corpus is a quarter of those counts, amplified 4×.
  *
  * Like the sf0.1 tables it stands for, the corpus is the same in every
  * run: its documents and vectors come from a fixed generator seed, and
  * the run's seed picks only the nearest-neighbour queries. A corpus
  * drawn per seed changes which near-duplicate pairs MinHash finds, and
  * with them the rounds connected components takes to converge (56 and
  * 65 Spark jobs a pass on two seeds), so pass time would depend on the
  * seed by ~15%. */
final case class Corpus(docs: DataFrame, vectors: DataFrame, queries: DataFrame,
                        distinctTexts: Long, exactExtra: Long, families: Long, docCount: Long,
                        queryCount: Long)

/** The base corpus before amplification, as plain rows. */
final case class BaseCorpus(docs: Seq[(Long, String)], vectors: Seq[(Long, Array[Float])],
                            queries: Seq[Long], originals: Int, nearDups: Int, exactCopies: Int)

object CorpusGen {
  val baseDocs = 1250
  val minWords = 10
  val maxWords = 100
  val vocab = 30
  val nearDupShare = 255.0 / 5000
  val exactShare = 8.0 / 5000
  val dim = 64
  val labels = 10
  val centroidNorm = 0.07
  val baseVectors = 500
  val queryCount = 16

  /** Generator seed of the documents and vectors. */
  val corpusSeed = 0L

  def base(seed: Long): BaseCorpus = {
    val rnd = new Random(corpusSeed)
    val words = Vector.fill(vocab)(Vector.fill(2 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString)
      .distinct
    val nNear = math.round(baseDocs * nearDupShare).toInt
    val nExact = math.round(baseDocs * exactShare).toInt
    val originals = Vector.fill(baseDocs - nNear - nExact) {
      Vector.fill(minWords + rnd.nextInt(maxWords - minWords + 1))(words(rnd.nextInt(words.size)))
        .mkString(" ")
    }
    val near = rnd.shuffle(originals).take(nNear).map(_ + " dup")
    val exact = rnd.shuffle(originals ++ near).take(nExact)
    val docs = rnd.shuffle(originals ++ near ++ exact).zipWithIndex.map { case (t, i) => (i.toLong, t) }

    val sd = 1 / math.sqrt(dim)
    val centroids = Vector.fill(labels) {
      val c = Vector.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(c.map(x => x * x).sum)
      c.map(_ * centroidNorm / n)
    }
    val vecs = (0 until baseVectors).map { i =>
      val v = centroids(rnd.nextInt(labels)).map(_ + sd * rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / n).toFloat).toArray)
    }
    val queries = new Random(seed).shuffle(vecs.indices.toVector).take(queryCount).map(_.toLong)
    BaseCorpus(docs, vecs, queries, originals.size, nNear, nExact)
  }

  /** The base corpus amplified `replicas`× with the scale smoke's scheme. */
  def apply(spark: SparkSession, b: BaseCorpus, replicas: Int): Corpus = {
    import spark.implicits._
    val reps = spark.range(replicas).select(col("id").as("rep"))
    val docs = b.docs.toDF("doc_id", "text").crossJoin(reps)
      .select((col("doc_id") + col("rep") * 10000000L).as("doc_id"),
        concat(col("text"), lit(" rep"), col("rep")).as("text"))
    val vectors = b.vectors.toDF("vec_id", "embedding").crossJoin(reps)
      .select((col("vec_id") + col("rep") * 10000000L).as("vec_id"),
        transform(col("embedding"), x => x + col("rep").cast("float") * lit(0.0001f)).as("embedding"))
    Corpus(docs, vectors, b.queries.toDF("vec_id"),
      distinctTexts = (b.docs.size - b.exactCopies).toLong * replicas,
      exactExtra = b.exactCopies.toLong * replicas,
      families = b.originals.toLong,
      docCount = b.docs.size.toLong * replicas,
      queryCount = b.queries.size.toLong)
  }
}
