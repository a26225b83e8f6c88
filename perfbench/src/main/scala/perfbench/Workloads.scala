package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Rollup, Similarity, Upsert}
import graft.pipeline.{ErrorChannel, ETLResult, Pipeline, SupplierConfig}
import graft.sinks.{SnapshotStats, SnapshotStore}

/** One operation: `run` is timed, `check` (untimed) returns failures.
  * `path` names the code path within a kind (the supplier of an upsert). */
final case class Op(kind: String, items: Long, run: () => Unit, check: () => Seq[String],
                    path: String = "")

/** One measured op. */
final case class Sample(kind: String, path: String, ms: Double, items: Long, ok: Boolean)

/** Shared state of one benchmark process. `counters` collects the
  * outside-visible layer counts of the traced phase. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long, val tracer: Tracer) {
  private val counters: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def count(k: String, v: Double): Unit = if (tracer.enabled) synchronized(counters(k) += v)
  /** The counters so far; counting starts afresh. */
  def takeCounters(): Map[String, Double] = synchronized {
    val m = counters.toMap
    counters.clear()
    m
  }
}

abstract class Workload(val ctx: Ctx) {
  import ctx.spark
  /** Op kind whose latency is `op_p50_ms`. */
  def primaryKind: String
  /** `op_p50_ms`: the median latency of the primary ops. */
  def opP50Ms(s: Seq[Sample]): Double = Stats.percentile(s.filter(_.kind == primaryKind).map(_.ms), 50)
  /** Ops in one full mix; a measuring phase always ends on a whole mix. */
  def cycle: Int = 1
  /** Untimed ops before measuring: JIT and codegen of each op kind. */
  def warmupOps: Int = 1
  /** Mixes the untraced measuring phase holds at least. */
  def measuredMixes: Int = 1
  /** Untimed: build the seeded inputs. */
  def generate(): Unit
  /** Timed as part of `setup_s`: load the fixture through the program. */
  def setup(): Unit
  /** Fixture loads in a run; `setup_s` takes their median. */
  def setupRepeats: Int = 1
  /** Untimed, after the last fixture load: what the fixture holds that
    * it should not. */
  def setupFailures(): Seq[String] = Nil
  /** Switch the fixture to the traced configuration. */
  def enterTraced(): Unit = ()
  /** Whether the traced run also drives `next(i, split = true)`: ops
    * that take a single program call apart into its public steps, so
    * that each layer gets its own span. */
  def hasSplit: Boolean = false
  def next(i: Long, split: Boolean): Op
  def tableRoot: Option[String] = None
  /** Upserts (runSupplier calls) one primary op makes. */
  def upsertsPerOp: Int = 0

  protected def dir(name: String): Path = Files.createDirectories(ctx.work.resolve(name))
  protected def span[T](name: String)(body: => T): T = ctx.tracer.span(name)(body)
  protected def table(): DataFrame = SnapshotStore.table(spark, tableRoot.get)
}

/** Feed-driven workloads: supplier catalogs synced into one snapshot
  * table partitioned by supplier. */
abstract class CatalogWorkload(c: Ctx, productsPerSupplier: Int, shapes: Seq[Shape] = Shape.all)
    extends Workload(c) {
  import ctx.spark
  protected val rnd = new Random(ctx.seed)
  val catalogs: Seq[Catalog] = shapes.map(s => new Catalog(s, new Random(rnd.nextLong())))
  protected val root: String = ctx.work.resolve("catalog").toString
  override def tableRoot: Option[String] = Some(root)
  private val feeds = dir("feeds")
  private var feedSeq = 0

  /** Write one feed file for `cat` holding `ps`; returns its path. */
  protected def writeFeed(cat: Catalog, ps: Seq[Product]): String = {
    feedSeq += 1
    val p = feeds.resolve(s"${cat.shape.id}-$feedSeq.json")
    Files.write(p, cat.shape.render(ps).getBytes(UTF_8))
    p.toString
  }

  /** The fixture's full feeds, rendered with the other inputs. */
  protected var baseFeeds = Seq.empty[(Catalog, String)]

  override def generate(): Unit = {
    catalogs.foreach(_.add(productsPerSupplier))
    baseFeeds = catalogs.map(c => c -> writeFeed(c, c.all))
  }

  protected def syncAll(paths: Seq[(Catalog, String)], split: Boolean): Seq[ETLResult] =
    if (!split)
      Pipeline.runFullSync(spark, paths.map { case (c, p) => SupplierConfig(c.shape.id, p) }, root,
        atomicSink = true)
    else {
      // runFullSync's own shape: one driver thread per supplier, up to 8.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(paths.size, 8))
      val parent = ctx.tracer.currentSpan
      try paths.map { case (c, p) =>
        pool.submit(() => ctx.tracer.under(parent)(supplierTraced(c.shape, p)))
      }.map(_.get())
      finally pool.shutdown()
    }

  override def hasSplit: Boolean = true

  /** A copy of `Pipeline.runSupplier` taken apart into its public steps,
    * each in its layer's span: read and materialize the feed document,
    * run the supplier transform over the persisted document, tag and
    * split rows, stamp, merge-commit, then collect the error samples.
    * The extra persists make its Spark job counts differ from the real
    * call's; it is used only for the layers' self times. */
  protected def supplierTraced(shape: Shape, path: String): ETLResult = {
    val t0 = System.nanoTime()
    val doc = span("sources") {
      val d = shape.readDoc(spark, path).persist()
      d.count()
      d
    }
    ctx.count("feed_bytes", Files.size(Path.of(path)).toDouble)
    val unified = span("suppliers") {
      val u = shape.unified(doc).persist()
      ctx.count("products_transformed", u.count().toDouble)
      u
    }
    val tagged = ErrorChannel.tag(unified).persist()
    val (good, nGood, nBad) = span("pipeline") {
      val bad = tagged.filter(size(col("__errors")) > 0).count()
      val good = Upsert.stamped(Upsert.stamped(Upsert.stamped(
        tagged.filter(size(col("__errors")) === 0).drop("__errors"),
        "updated_at"), "created_at"), "last_sync")
        .withColumn("supplier_id", col("supplier.id"))
      (good, good.count(), bad)
    }
    ctx.count("rows_processed", (nGood + nBad).toDouble)
    ctx.count("rows_rejected", nBad.toDouble)
    if (nGood > 0) span("sinks.commit") {
      SnapshotStore.mergeCommit(spark, good, root, keys = "product_id", versionCol = "last_sync",
        partitionCols = "supplier_id")
    }
    val samples = span("pipeline") {
      tagged.filter(size(col("__errors")) > 0).select(concat_ws("; ", col("__errors"))).limit(5)
        .collect().map(_.getString(0)).toSeq
    }
    Seq(tagged, unified, doc).foreach(_.unpersist())
    ETLResult(shape.id, if (nBad == 0) "success" else "partial_success", nGood + nBad, nGood, nBad,
      samples, (System.nanoTime() - t0) / 1000000)
  }

  /** A read through the planning-time skipping index: resolving the
    * table and building the physical plan is the planning span, the
    * collect is execution. Counts the files the index kept. */
  protected def read(version: Option[Long])(q: DataFrame => DataFrame): Array[Row] = {
    val (df, idx) = span("planning") {
      val (t, idx) = SnapshotStore.tableWithIndex(spark, root, version)
      val df = q(t)
      df.queryExecution.executedPlan
      (df, idx)
    }
    val rows = df.collect()
    ctx.count("files_total", idx.totalFiles.toDouble)
    ctx.count("files_kept", idx.lastCandidateFiles.toDouble)
    rows
  }

  protected def resultFailures(rs: Seq[ETLResult], expected: Map[String, Int]): Seq[String] =
    rs.flatMap { r =>
      if (r.status != "success" || r.errors != 0 || r.success != expected(r.supplier))
        Seq(s"${r.supplier}: ${r.status} success=${r.success} errors=${r.errors} " +
          s"(want ${expected(r.supplier)}) ${r.errorSamples.mkString("; ")}")
      else Nil
    }

  /** Per-supplier product count and price checksum against the model. */
  protected def tableFailures(): Seq[String] = {
    val got = table().groupBy(col("supplier_id"))
      .agg(count(lit(1)), sum(Shape.priceCents)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    catalogs.flatMap { c =>
      val want = (c.size.toLong, c.all.map(_.priceCents).sum)
      if (got.get(c.shape.id).contains(want)) Nil
      else Seq(s"${c.shape.id}: table has ${got.get(c.shape.id)} (count, cents), model $want")
    }
  }

  protected def riderFailure(): Seq[String] =
    SnapshotStore.tablePropertiesMap(spark, root).get(SnapshotStore.MaintenanceErrorProp)
      .filter(_.nonEmpty).map(e => s"rider error: $e").toSeq

  /** The fixture's full sync of freshly generated feeds. A supplier
    * that throws is a program fault; rejected rows or a wrong product
    * count from a feed the program read fine is a generator fault, and
    * the run refuses to start. */
  protected def loadFixture(feeds: Seq[(Catalog, String)]): Unit =
    syncAll(feeds, split = false).foreach { r =>
      val want = feeds.collectFirst { case (c, _) if c.shape.id == r.supplier => c.size }.get
      if (r.processed == 0 && r.errors > 0)
        throw new IllegalStateException(s"fixture sync of ${r.supplier} failed: ${r.errorSamples}")
      if (r.errors != 0 || r.success != want)
        throw new GeneratorFault(s"${r.supplier}: generated feed of $want products gave " +
          s"${r.success} valid and ${r.errors} rejected rows: ${r.errorSamples.mkString("; ")}")
    }
}

final class GeneratorFault(msg: String) extends RuntimeException(msg)

/** Full-feed rounds of three suppliers through `runFullSync`. */
final class CatalogSync(c: Ctx) extends CatalogWorkload(c, 2000) {
  def primaryKind = "round"
  override def upsertsPerOp: Int = catalogs.size

  def setup(): Unit = loadFixture(baseFeeds)

  override def setupFailures(): Seq[String] = tableFailures()

  def next(i: Long, split: Boolean): Op = {
    catalogs.foreach(_.evolve(changeFrac = 0.10, newFrac = 0.02))
    val paths = catalogs.map(c => c -> writeFeed(c, c.all))
    val expected = catalogs.map(c => c.shape.id -> c.size).toMap
    var rs: Seq[ETLResult] = Nil
    Op("round", catalogs.map(_.size.toLong).sum,
      () => rs = syncAll(paths, split),
      () => resultFailures(rs, expected) ++ tableFailures() ++ riderFailure())
  }
}

/** 40-product delta feeds, round-robin over two suppliers, with riders.
  * Two, not three: a run with a warm-up mix and three measured mixes over
  * three suppliers would not fit the benchmark's run budget. */
final class StockTrickle(c: Ctx, productsPerSupplier: Int = 2000)
    extends CatalogWorkload(c, productsPerSupplier, Seq(Shape.RalawiseShape, Shape.LaltexShape)) {
  import ctx.spark
  def primaryKind = "upsert"
  override def upsertsPerOp: Int = 1
  override def cycle: Int = 2 * catalogs.size
  /** One mix: the first upsert of each supplier runs its riders for the
    * first time and takes about 1.5× a later one. */
  override def warmupOps: Int = cycle
  /** Upserts keep getting faster for many mixes (JIT), so one run's
    * figure moves with how far the JIT got; three upserts per supplier
    * make each supplier's median less of a single draw. */
  override def measuredMixes: Int = 3
  private val rollRoot = ctx.work.resolve("rollup").toString
  private val deltaSize = 40

  def setup(): Unit = {
    val t = System.nanoTime()
    def lap(what: String): Unit = println(f"  $what at ${(System.nanoTime() - t) / 1e9}%.2f s")
    loadFixture(baseFeeds)
    lap("full sync")
    SnapshotStats.analyze(spark, root, Some(Seq("product_id", "supplier_id", "status")))
    lap("analyze")
    Rollup.sync(spark, root, rollRoot, Seq("product_id"), Seq("supplier_id", "status"), Nil)
    Rollup.enableAutoSync(spark, root, rollRoot)
    lap("rollup")
    SnapshotStore.setProperties(spark, root, Seq(
      "graft.autoBloom.cols" -> "product_id",
      "graft.autoAnalyze.driftPct" -> "1",
      "graft.autoCompact.minFiles" -> "8"))
  }

  /** Mean over suppliers of each supplier's median upsert: upserts of
    * one supplier run the same path, and each supplier weighs the same
    * whatever the number of mixes. */
  override def opP50Ms(s: Seq[Sample]): Double = {
    val perSupplier = s.filter(_.kind == "upsert").groupBy(_.path).values
      .map(xs => Stats.percentile(xs.map(_.ms), 50))
    perSupplier.sum / perSupplier.size
  }

  override def setupFailures(): Seq[String] = tableFailures()

  /** Traced: riders move to the maintenance worker so that draining it
    * right after each commit times them apart from the commit. */
  override def enterTraced(): Unit =
    SnapshotStore.setProperties(spark, root, Seq("graft.maintenance.async" -> "true"))

  /** Ops alternate: a delta upsert, then a read-your-writes read of the
    * products it changed (the paper's upsert → read loop). */
  private var pending: Option[(Catalog, Seq[Product])] = None
  private var upserts = 0

  def next(i: Long, split: Boolean): Op = pending match {
    case Some((cat, changed)) =>
      pending = None
      val want = changed.map(p => cat.shape.productId(p) -> p.priceCents).toMap
      var got = Map.empty[String, Long]
      Op("read_back", changed.size.toLong,
        () => got = read(None)(_.filter(col("product_id").isin(want.keys.toSeq: _*))
          .select(col("product_id"), Shape.priceCents)).map(r => r.getString(0) -> r.getLong(1)).toMap,
        () => if (got == want) Nil
          else Seq(s"read-your-writes: ${want.count { case (k, v) => !got.get(k).contains(v) }} of " +
            s"${want.size} changed products read back wrong"))
    case None =>
      val cat = catalogs(upserts % catalogs.size)
      upserts += 1
      val changed = cat.delta(deltaSize)
      val path = writeFeed(cat, changed)
      pending = Some((cat, changed))
      var r: ETLResult = null
      Op("upsert", changed.size.toLong,
        () => {
          r =
            if (split) supplierTraced(cat.shape, path)
            else Pipeline.runSupplier(spark, SupplierConfig(cat.shape.id, path), root, atomicSink = true)
          // Returns at once unless riders run on the maintenance worker.
          span("sinks.riders")(SnapshotStore.drainAsyncMaintenance())
        },
        () => resultFailures(Seq(r), Map(cat.shape.id -> changed.size)) ++ riderFailure(),
        cat.shape.id)
  }
}

/** A seeded read mix over a table built in setup; no writes. */
final class CatalogReads(c: Ctx) extends CatalogWorkload(c, 2000) {
  import ctx.spark
  def primaryKind = "lookup"
  override def cycle: Int = 12
  override def warmupOps: Int = 12
  private val deltas = 4
  private var deltaFeeds = Seq.empty[(Catalog, String, Seq[Product])]
  /** Model after the full sync, then after each delta. */
  private var models = Vector.empty[Map[String, Long]]
  private var versions = Vector.empty[Long]
  private val queryKinds =
    Vector("supplier", "category", "group_by", "name_token", "time_travel", "changes")
  private var deck = Vector.empty[String]
  private lazy val all: Seq[(Shape, Product)] = catalogs.flatMap(c => c.all.map(c.shape -> _))

  override def generate(): Unit = {
    super.generate()
    models = Vector(catalogs.flatMap(_.snapshot).toMap)
    deltaFeeds = (0 until deltas).map { _ =>
      val cat = catalogs(rnd.nextInt(catalogs.size))
      val changed = cat.delta(40)
      models :+= catalogs.flatMap(_.snapshot).toMap
      (cat, writeFeed(cat, changed), changed)
    }
  }

  def setup(): Unit = {
    loadFixture(baseFeeds)
    versions = Vector(SnapshotStore.currentVersion(spark, root).get)
    deltaFeeds.foreach { case (cat, path, changed) =>
      val r = Pipeline.runSupplier(spark, SupplierConfig(cat.shape.id, path), root, atomicSink = true)
      require(r.status == "success" && r.success == changed.size, s"delta sync failed: $r")
      versions :+= SnapshotStore.currentVersion(spark, root).get
    }
    SnapshotStats.analyze(spark, root)
    Rollup.sync(spark, root, ctx.work.resolve("rollup").toString, Seq("product_id"),
      Seq("supplier_id", "status"), Nil)
  }

  private def model = models.last

  override def hasSplit: Boolean = false

  def next(i: Long, split: Boolean): Op = {
    if (deck.isEmpty) deck = rnd.shuffle(Vector.fill(cycle - queryKinds.size)("lookup") ++ queryKinds)
    val kind = deck.head
    deck = deck.tail
    var rows = Array.empty[Row]
    def op(check: => Seq[String])(q: => Array[Row]): Op =
      Op(kind, 1, () => rows = q, () => check)
    kind match {
      case "lookup" =>
        val absent = rnd.nextDouble() < 0.1
        val (pid, want) =
          if (absent) (s"${Shape.all(rnd.nextInt(3)).prefix}ZZ${rnd.nextInt(99999)}", None)
          else { val (s, p) = all(rnd.nextInt(all.size)); (s.productId(p), Some(model(s.productId(p)))) }
        op(if (rows.map(_.getLong(1)).toSeq == want.toSeq) Nil
           else Seq(s"lookup $pid: got ${rows.map(_.getLong(1)).mkString(",")}, want $want")) {
          lookup(None, pid)
        }
      case "supplier" =>
        val cat = catalogs(rnd.nextInt(catalogs.size))
        val want = (cat.size.toLong, cat.all.map(_.priceCents).sum)
        op(if (rows.headOption.map(r => (r.getLong(0), r.getLong(1))).contains(want)) Nil
           else Seq(s"supplier ${cat.shape.id}: got ${rows.headOption}, want $want")) {
          read(None)(_.filter(col("supplier_id") === cat.shape.id)
            .agg(count(lit(1)), coalesce(sum(Shape.priceCents), lit(0L))))
        }
      case "category" =>
        val cat = Catalog.categories(rnd.nextInt(Catalog.categories.size))
        val want = all.count { case (s, p) => p.category == cat && s.printableOf(p) }.toLong
        op(if (rows.head.getLong(0) == want) Nil
           else Seq(s"category $cat: got ${rows.head.getLong(0)}, want $want")) {
          read(None)(_.filter(exists(col("categories"), x => x.getField("name") === cat) &&
            col("is_printable")).agg(count(lit(1))))
        }
      case "group_by" =>
        val want = catalogs.map(c => (c.shape.id, "active", c.size.toLong)).toSet
        op(if (rows.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet == want) Nil
           else Seq(s"group_by: got ${rows.mkString(",")}")) {
          read(None)(_.groupBy(col("supplier_id"), col("status")).agg(count(lit(1))))
        }
      case "name_token" =>
        val tok = Catalog.nouns(rnd.nextInt(Catalog.nouns.size))
        val want = all.collect { case (s, p) if p.name.split(' ').contains(tok) => s.productId(p) }.toSet
        op(if (rows.map(_.getString(0)).toSet == want && rows.length == want.size) Nil
           else Seq(s"name_token $tok: got ${rows.length} ids, want ${want.size}")) {
          read(None)(_.filter(array_contains(functions.split(lower(col("name")), " "), tok))
            .select(col("product_id")))
        }
      case "time_travel" =>
        val k = rnd.nextInt(deltas)
        val (cat, _, changed) = deltaFeeds(k)
        val pid = cat.shape.productId(changed(rnd.nextInt(changed.size)))
        val want = models(k)(pid)
        op(if (rows.map(_.getLong(1)).toSeq == Seq(want)) Nil
           else Seq(s"time travel $pid@${versions(k)}: got ${rows.map(_.getLong(1)).mkString(",")}, want $want")) {
          lookup(Some(versions(k)), pid)
        }
      case "changes" =>
        val k = rnd.nextInt(deltas)
        val (cat, _, changed) = deltaFeeds(k)
        val want = changed.map(p => (cat.shape.productId(p), "update")).toSet
        op(if (rows.map(r => (r.getString(0), r.getString(1))).toSet == want && rows.length == want.size) Nil
           else Seq(s"changes ${versions(k)}..${versions(k + 1)}: got ${rows.length} rows, want ${want.size}")) {
          span("planning") {
            SnapshotStore.changes(spark, root, versions(k), versions(k + 1), "product_id")
              .select(col("product_id"), col("_change_type"))
          }.collect()
        }
    }
  }

  private def lookup(version: Option[Long], pid: String): Array[Row] =
    read(version)(_.filter(col("product_id") === pid).select(col("product_id"), Shape.priceCents))

}

/** What one corpus pass returns, compared across passes of a seed. */
final case class PassResult(groups: Long, extraDups: Long, kept: Long, annRows: Long, annSig: Long,
                            top1Cosine: Double)

/** Exact dedup, MinHash pairs, clustering and IVF top-k over a seeded
  * corpus amplified in-process; zero commits. */
final class CorpusDedup(c: Ctx, replicas: Int) extends Workload(c) {
  import ctx.spark
  def primaryKind = "pass"
  /** The first pass compiles every plan and takes ~3× a later pass. */
  override def warmupOps: Int = 1
  override def measuredMixes: Int = 2
  private var base: BaseCorpus = _
  private var corpus: Corpus = _
  private var firstPass: Option[PassResult] = None

  def generate(): Unit = base = CorpusGen.base(ctx.seed)

  /** Amplify the base corpus and cache it. Cheap, so it is done three
    * times and `setup_s` takes the median. */
  override def setupRepeats: Int = 3

  def setup(): Unit = {
    if (corpus != null) Seq(corpus.docs, corpus.vectors).foreach(_.unpersist(blocking = true))
    corpus = cached(CorpusGen(spark, base, replicas))
  }

  private def cached(c: Corpus): Corpus = {
    val docs = c.docs.persist(); docs.count()
    val vecs = c.vectors.persist(); vecs.count()
    c.copy(docs = docs, vectors = vecs)
  }

  def next(i: Long, split: Boolean): Op = {
    var res: PassResult = null
    Op("pass", corpus.docCount, () => res = pass(), () => check(res))
  }

  private def pass(): PassResult = {
    val docs = corpus.docs
    val (groups, extra) = span("operators.exact_dedup") {
      val r = Dedup.exactGroups(docs, col("text"), col("doc_id"))
        .agg(count(lit(1)), sum(col("n_dups") - 1)).head()
      (r.getLong(0), r.getLong(1))
    }
    // Every band collision with its estimate, then the program's own
    // 0.5 threshold: the candidate count and the kept share come from
    // one pass.
    val candidates = Dedup.minHashPairs(docs, col("text"), col("doc_id"), threshold = 0.0).persist()
    val pairs = candidates.filter(col("est_jaccard") >= 0.5).select("id_a", "id_b").persist()
    val (nCandidates, nPairs) = span("operators.minhash_pairs")((candidates.count(), pairs.count()))
    val kept = span("operators.cluster") {
      Dedup.dedupCorpusClusters(docs, pairs, col("doc_id")).count()
    }
    Seq(pairs, candidates).foreach(_.unpersist())
    val ann = span("operators.ann_topk") {
      Similarity.ivfTopK(corpus.vectors, "vec_id", "embedding", corpus.queries, k = 10)
        .agg(count(lit(1)), sum(col("neighbor_id") * col("rank")),
          min(when(col("rank") === 1, col("cosine"))))
        .head()
    }
    ctx.count("candidate_pairs", nCandidates.toDouble)
    ctx.count("pairs_kept", nPairs.toDouble)
    PassResult(groups, extra, kept, ann.getLong(0), ann.getLong(1), ann.getDouble(2))
  }

  /** Exact-dup groups follow from the replica construction. Near-dup
    * clustering keeps one document per family: an original with its
    * "dup" variant, its exact copies and all their replicas, every pair
    * of which has a 3-shingle Jaccard of at least 0.8; a 1% allowance
    * covers the pairs MinHash misses by chance. Losing the near-dup
    * variants alone keeps 5% more, losing cross-replica pairs 4× more.
    * Each IVF query returns k rows with its replica twin (cosine ~1)
    * first; every pass of a seed returns what the first pass did. */
  private def check(r: PassResult): Seq[String] = {
    val f = mutable.Buffer.empty[String]
    if (r.groups != corpus.distinctTexts || r.extraDups != corpus.exactExtra)
      f += s"exact groups ${r.groups} (+${r.extraDups} dups), want ${corpus.distinctTexts} " +
        s"(+${corpus.exactExtra})"
    val maxKept = corpus.families + corpus.families / 100
    if (r.kept < corpus.families || r.kept > maxKept)
      f += s"clusters kept ${r.kept} outside [${corpus.families}, $maxKept]"
    if (r.annRows != corpus.queryCount * 10) f += s"ann rows ${r.annRows}, want ${corpus.queryCount * 10}"
    if (!(r.top1Cosine > 0.99)) f += s"ann top-1 cosine ${r.top1Cosine}, want a replica twin (> 0.99)"
    firstPass match {
      case None => firstPass = Some(r)
      case Some(p) if p != r => f += s"pass differs from the first pass of this seed: $r vs $p"
      case _ =>
    }
    f.toSeq
  }
}
