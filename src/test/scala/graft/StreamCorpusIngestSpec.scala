package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.LlmKit
import graft.streaming.StreamOps

/** The composed incremental ingest — quality gates → exact
  * decontamination → near-dup suppression → exactly-once publish — i.e.
  * the streaming twin of [[graft.sink.CorpusBuild]]'s gate chain. The
  * input plants one instance of every drop class (a low-quality tail the
  * corpus carries naturally, exact eval leaks under fresh ids, perturbed
  * re-posts of an earlier chunk) and the spec pins: stream == batch
  * signature-for-signature on the stateless stages, each drop class
  * actually dropping, and the published files matching the stream's own
  * survivors under the exactly-once layout.
  */
class StreamCorpusIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  // one SECOND per doc, not one minute: the whole input spans ~500 s,
  // far inside ingestGates' 1-hour watermark, so no chunk can land
  // behind the advanced watermark and be late-dropped — the compare
  // stays deterministic (re-posts arriving hours late are legitimately
  // dropped in production, but that's eviction policy, not the
  // signature semantics this spec pins)
  private def withTs(df: DataFrame) = df.select(
    timestamp_seconds(lit(1700000000L) + col("doc_id") % 100000)
      .as("ts"),
    col("doc_id"), col("text"), col("source"))

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    .select("doc_id", "text", "source")
  private lazy val evalDocs = docs.filter(col("source") === "src19")
  // exact eval leaks arriving under fresh ids and a different source —
  // only the text-hash anti-join can catch them
  private lazy val leaks = evalDocs.limit(5)
    .select((col("doc_id") + 200000).as("doc_id"), col("text"),
      lit("srcX").as("source"))
  // perturbed re-posts of chunk-0 docs: under the 60-bit ingest
  // signature (r15) a fraction keep their original's signature and must
  // be suppressed cross-batch; the rest moved the signature and are
  // legitimately admitted (the batch LSH closure owns heavier edits) —
  // the drop-class test below asserts exactly that split
  private lazy val reposts = docs.filter(col("doc_id") < 250)
    .select((col("doc_id") + 100000).as("doc_id"),
      LlmKit.dropFirstToken(col("text")).as("text"), col("source"))

  private lazy val batchInput = withTs(
    docs.unionByName(leaks).unionByName(reposts))

  private lazy val streamDir: String = {
    val dir = TestSpark.tempDir("graft-ingest-stream").toString
    def write(df: DataFrame, name: String, mtime: Long): Unit = {
      val tmp = TestSpark.tempDir("graft-chunk").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[Path])
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(dir, name))
      Files.setLastModifiedTime(Paths.get(dir, name), FileTime.fromMillis(mtime))
    }
    val t0 = System.currentTimeMillis() - 600000
    write(withTs(docs.filter(col("doc_id") < 250)), "c0.parquet", t0)
    write(withTs(docs.filter(col("doc_id") >= 250).unionByName(leaks)),
      "c1.parquet", t0 + 60000)
    write(withTs(reposts), "c2.parquet", t0 + 120000)
    dir
  }

  private def readChunks() = spark.readStream
    .schema("ts TIMESTAMP, doc_id LONG, text STRING, source STRING")
    .option("maxFilesPerTrigger", "1")
    .parquet(streamDir)

  private lazy val survivors: Array[(Long, Long)] = {
    val q = StreamOps.ingestGates(readChunks(), evalDocs)
      .writeStream.format("memory").queryName("t_ingest")
      .outputMode("append")
      .option("checkpointLocation",
        TestSpark.tempDir("graft-ckpt-ingest").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table("t_ingest").select("doc_id", "simhash").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
  }

  test("stream equals batch signature-for-signature") {
    val batchSigs = StreamOps.ingestHits(batchInput, evalDocs)
      .dropDuplicates("simhash")
      .select("simhash").collect().map(_.getLong(0)).toSet
    val streamSigs = survivors.map(_._2).toSet
    assert(streamSigs === batchSigs)
    assert(survivors.length === batchSigs.size)
  }

  test("every planted drop class drops; survivors pass the batch gates") {
    val ids = survivors.map(_._1).toSet
    assert(ids.nonEmpty)
    // exact eval leaks (fresh ids, fresh source) are anti-joined out
    assert(!ids.exists(_ >= 200000), "an eval leak survived")
    // the eval docs themselves never land in the training corpus
    val evalIds = evalDocs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.intersect(evalIds).isEmpty, "an eval original survived")
    // every surviving ORIGINAL passes q134's keep (same gate family)
    val q134Keep = SparkEntry.queries("q134_gopher_gates")(spark, sfDir)
      .filter(col("keep")).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    for (id <- ids if id < 100000)
      assert(q134Keep(id), s"survivor $id fails the batch quality gates")
    // re-posts are signature-suppressed: any surviving re-post id must
    // carry a signature its chunk-0 original does NOT (i.e. the
    // perturbation genuinely moved the simhash), never a duplicate
    val sigByOriginal = StreamOps.ingestHits(
        withTs(docs.filter(col("doc_id") < 250)), evalDocs)
      .select("simhash").collect().map(_.getLong(0)).toSet
    val repostSurvivors = survivors.filter(_._1 >= 100000)
    assert(repostSurvivors.forall(s => !sigByOriginal(s._2)),
      "a signature-equal re-post survived")
  }

  test("incremental ingest with a mid-stream restart reconciles " +
      "file-level with the one-shot batch rebuild") {
    // r15 (verdict item 7): N streamed ingest_batch landings — including
    // a forced crash window (sink write landed, checkpoint commit lost)
    // and a restart that replays batch 0 through the FULL gate chain —
    // followed by a manifest regeneration must certify identically to
    // rebuilding the corpus in one batch pass over the same input. This
    // extends CorpusPublishSpec's raw-row restart case to gates →
    // decontamination → watermark dedup → publish.
    val rebuildOut = TestSpark.tempDir("graft-ingest-rebuild")
      .toString + "/corpus"
    val batchRows = StreamOps.ingestHits(batchInput, evalDocs)
      .dropDuplicates("simhash")
    graft.sink.CorpusPublish.publish(batchRows, rebuildOut, "source",
      "doc_id", 1000)

    val sdir = TestSpark.tempDir("graft-ingest-restart-in").toString
    val sout = TestSpark.tempDir("graft-ingest-restart-out")
      .toString + "/corpus"
    val ckpt = TestSpark.tempDir("graft-ingest-restart-ckpt")
      .toString
    def land(df: DataFrame, name: String, mtime: Long): Unit = {
      val tmp = TestSpark.tempDir("graft-chunk").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[Path])
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(sdir, name))
      Files.setLastModifiedTime(Paths.get(sdir, name),
        FileTime.fromMillis(mtime))
    }
    def run(): Unit = StreamOps.ingestCorpus(
      spark.readStream
        .schema("ts TIMESTAMP, doc_id LONG, text STRING, source STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir),
      evalDocs, sout, ckpt).awaitTermination()

    val t0 = System.currentTimeMillis() - 600000
    land(withTs(docs.filter(col("doc_id") < 250)), "c0.parquet", t0)
    run() // landing 1: publishes + commits batch 0
    // crash window: lose the checkpoint commit, keep the published data
    assert(Files.deleteIfExists(Paths.get(ckpt, "commits", "0")))
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".0.crc"))
    land(withTs(docs.filter(col("doc_id") >= 250).unionByName(leaks)),
      "c1.parquet", t0 + 60000)
    land(withTs(reposts), "c2.parquet", t0 + 120000)
    run() // restart: replays batch 0 (marker no-op), processes 1 and 2

    // reconcile at the chain's determinism boundary: per-source row
    // counts and signature-multiset checksums. Which ROW wins among
    // signature-equal candidates is arbitrary across the two paths
    // (batch dropDuplicates vs first-arrival stream state), so the
    // identity columns are excluded — the signature multiset per source
    // is the published contract (same as the stream==batch test above)
    val inc = graft.sink.CorpusPublish.manifestOf(spark, sout, "source",
      excludeCols = Set("ingest_batch", "ts", "doc_id", "text"))
    val reb = graft.sink.CorpusPublish.manifestOf(spark, rebuildOut,
      "source", excludeCols = Set("ts", "doc_id", "text"))
    assert(inc.nonEmpty)
    assert(inc == reb)
    assert(inc.map(_.n_rows).sum === survivors.length)
  }

  test("exactly-once publish lands exactly the survivors") {
    val out = TestSpark.tempDir("graft-ingest-pub").toString + "/corpus"
    val q = StreamOps.ingestCorpus(readChunks(), evalDocs, out,
      TestSpark.tempDir("graft-ckpt-ingest-pub").toString)
    q.awaitTermination()
    val published = spark.read.parquet(out)
    // the published multiset is signature-identical to the survivor set
    // (within-batch survivor CHOICE between signature-equal rows is
    // arbitrary across runs; the signature multiset is not)
    val pubSigs = published.select("simhash").collect()
      .map(_.getLong(0)).sorted
    assert(pubSigs.toSeq === survivors.map(_._2).sorted.toSeq)
    // exactly-once layout: deterministic per-batch dirs, hive source
    // dirs below each
    val root = new java.io.File(out)
    val batchDirs = root.listFiles().filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("ingest_batch="))
    assert(batchDirs.nonEmpty)
    // a regenerated manifest certifies what is on disk, batch dirs aside
    val manifest = graft.sink.CorpusPublish.manifestOf(
      spark, out, "source", excludeCols = Set("ingest_batch"))
    assert(manifest.map(_.n_rows).sum === survivors.length)
  }
}
