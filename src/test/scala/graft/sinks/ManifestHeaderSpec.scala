package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** [[ManifestHeader]] is the one reader and writer of a manifest's `#…`
  * block: `parse` inverts `render`, a fixed commit sequence writes the
  * header bytes pinned in `golden/manifest_headers.txt`, and a legacy
  * manifest without `#ts` / `#op` / `#partcol` still reads. */
class ManifestHeaderSpec extends graft.SparkSpec {

  // Characters the line format must survive: its own separators, the
  // URL escape and form characters, and non-ASCII (incl. a surrogate pair).
  private val hostile: Gen[String] = Gen.listOf(Gen.frequency(
    4 -> Gen.alphaNumChar.map(_.toString),
    1 -> Gen.oneOf("\t", "%", "=", ";", ",", "\n", " ", "+", "é", "日", "😀")))
    .map(_.mkString)
  // Fields written raw (tokens, names, tags) cannot hold the separators.
  private val plain: Gen[String] = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  private def pairs(k: Gen[String]): Gen[Seq[(String, String)]] =
    Gen.listOf(Gen.zip(k, hostile)).map(_.toVector)

  private val headers: Gen[ManifestHeader] = for {
    committer <- Gen.option(plain)
    ts <- Gen.option(Gen.chooseNum(0L, Long.MaxValue))
    required <- Gen.listOf(plain)
    op <- Gen.option(plain)
    partcol <- Gen.option(Gen.nonEmptyListOf(plain).map(_.mkString(",")))
    constraints <- pairs(plain)
    properties <- pairs(hostile)
    renames <- pairs(hostile)
    dropped <- Gen.listOf(hostile)
    copied <- Gen.listOf(hostile)
    extra <- Gen.listOf(plain.map(s => s"#x-$s\t$s"))
  } yield ManifestHeader(committer, ts, required.toVector, op, partcol, constraints,
    properties, renames, dropped.toVector, copied.toVector, extra.toVector)

  test("parse inverts render for headers holding tab, %, =, ;, comma, newline, non-ASCII") {
    val prop = Prop.forAll(headers) { h =>
      val lines = h.render
      lines.forall(l => l.startsWith("#") && !l.contains('\n')) &&
        ManifestHeader.parse(lines) == h
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(300)
      .withMaxSize(12).withInitialSeed(Seed(20261019L)), prop)
    assert(result.passed, result.status.toString)
  }

  /** Header block of every version under `root`, committer and ts masked
    * and the COPY INTO source directory cut to the file name. */
  private def maskedBlocks(root: String): String =
    SnapshotStore.versions(spark, root).map { v =>
      val lines = Files.readAllLines(Paths.get(f"$root/manifests/v_$v%06d.manifest"), UTF_8)
        .asScala.takeWhile(_.startsWith("#")).map(
          _.replaceAll("^#(committer|ts)\t.*$", "#$1\t*")
            .replaceAll("^#copied\t.*(%2F[^%]*)$", "#copied\t*$1"))
      (s"== v$v" +: lines).mkString("\n")
    }.mkString("", "\n", "\n")

  test("a fixed commit sequence writes the golden header blocks byte for byte") {
    import spark.implicits._
    val dir = freshDir()
    val root = s"$dir/t"
    Files.createDirectories(Paths.get(s"$dir/src"))
    Files.writeString(Paths.get(s"$dir/src/batch1.json"),
      """{"k":4,"a":"x","b":"y","s2":"d"}""" + "\n")
    SnapshotStore.commit(spark, Seq((1L, "x", "y", "p", "z"), (2L, "x", "w", "q", "z"),
      (3L, "v", "w", "r", "z")).toDF("k", "a", "b", "s", "drop_me"), root, "a,b")
    SnapshotStore.setProperties(spark, root,
      Seq("note" -> "tab\there 100%=;, ünï", "owner" -> "pim"))
    SnapshotStore.addConstraint(spark, root, "k_pos", "k > 0 AND a <> '%;,='")
    SnapshotStore.renameColumn(spark, root, "s", "s2")
    SnapshotStore.dropColumn(spark, root, "drop_me")
    SnapshotStore.copyInto(spark, root, s"$dir/src", "json")
    SnapshotStore.deleteWhereDv(spark, root, "k = 2")
    val golden = new String(
      getClass.getResourceAsStream("/golden/manifest_headers.txt").readAllBytes(), UTF_8)
    assert(maskedBlocks(root) == golden)
  }

  test("a legacy manifest without #ts, #op or #partcol reads as before") {
    import spark.implicits._
    val root = s"${freshDir()}/t"
    SnapshotStore.commit(spark, Seq((1L, "x")).toDF("k", "a"), root, "a")
    val v1 = Paths.get(f"$root/manifests/v_000001.manifest")
    val entries = Files.readAllLines(v1, UTF_8).asScala.filterNot(_.startsWith("#"))
    Files.writeString(Paths.get(f"$root/manifests/v_000002.manifest"),
      ("#committer\tlegacy" +: entries).mkString("\n"))

    val legacy = SnapshotStore.header(spark, root, 2L)
    assert(legacy == ManifestHeader(committer = Some("legacy")))
    assert(SnapshotStore.manifest(spark, root, 2L) == SnapshotStore.manifest(spark, root, 1L))

    val history = SnapshotStore.history(spark, root).orderBy("version").collect()
    assert(history.map(r => (r.getLong(0), r.isNullAt(1), r.isNullAt(2))).toSeq ==
      Seq((1L, false, false), (2L, true, true)))

    // An unrecorded version is older than any queryable timestamp: it
    // loses to a recorded one at or before the target and wins only
    // when the target precedes every recorded ts.
    val ts1 = SnapshotStore.commitTimestamp(spark, root, 1L).get
    assert(SnapshotStore.versionAtTimestamp(spark, root, ts1) == 1L)
    assert(SnapshotStore.versionAtTimestamp(spark, root, ts1 - 1) == 2L)

    val e = intercept[IllegalStateException](SnapshotStore.requirePartitionCols(spark, root, 2L))
    assert(e.getMessage.contains("predates partition-column metadata"))
  }
}
