package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.sink.CorpusPublish
import graft.streaming.StreamOps

/** The publish layout contract (sink/CorpusPublish scaladoc), checked on
  * disk — directory structure, file row bounds, in-file sort order,
  * partition pruning on read-back, round-trip equality, manifest
  * integrity, and idempotent re-publish. */
class CorpusPublishSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val maxPerFile = 7

  private lazy val docs = graft.ops.OpsKit.tbl(spark, dir, "documents")
    .select(col("doc_id"), col("text"), col("lang"), col("source"))

  private lazy val out = {
    val d = TestSpark.tempDir("graft-publish").toString
    CorpusPublish.publish(docs, d, "source", "doc_id", maxPerFile)
    d
  }

  private def dataFiles(sub: String): Seq[String] =
    Files.list(Paths.get(out, sub)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq

  test("hive layout: one directory per source, no stray files") {
    val subdirs = Files.list(Paths.get(out)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("source=")).toSet
    val sources = docs.select("source").distinct()
      .collect().map(r => s"source=${r.getString(0)}").toSet
    assert(subdirs == sources)
  }

  test("every file respects maxRecordsPerFile and is sorted by doc_id") {
    val subdirs = Files.list(Paths.get(out)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("source=")).toSeq
    assert(subdirs.nonEmpty)
    for (sub <- subdirs; f <- dataFiles(sub)) {
      val ids = spark.read.parquet(f).select("doc_id")
        .collect().map(_.getLong(0))
      assert(ids.length <= maxPerFile,
        s"$f has ${ids.length} rows > $maxPerFile")
      assert(ids.sameElements(ids.sorted), s"$f not sorted by doc_id")
    }
  }

  test("read-back with a source filter prunes to one partition") {
    val q = spark.read.parquet(out).filter(col("source") === "src3")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)
    val expected = docs.filter(col("source") === "src3").count()
    assert(q.collect().length == expected)
    // pruning is real: the executed scan read exactly ONE hive partition
    val scanExec = q.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
    assert(scanExec.metrics("numPartitions").value == 1,
      s"scan read ${scanExec.metrics("numPartitions").value} partitions")
  }

  test("round-trip equality and manifest integrity") {
    val back = spark.read.parquet(out)
      .select("doc_id", "text", "lang", "source")
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)

    val manifest = spark.read.parquet(s"$out/_manifest")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val expected = docs.groupBy(col("source").cast("string").as("p"))
      .agg(count(lit(1)),
        bit_xor(xxhash64(col("doc_id"), col("lang"), col("text"))))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(manifest.sameElements(expected))
  }

  test("re-publish is idempotent: same manifest checksums") {
    val first = spark.read.parquet(s"$out/_manifest")
      .collect().map(_.toString).sorted
    CorpusPublish.publish(docs, out, "source", "doc_id", maxPerFile)
    val second = spark.read.parquet(s"$out/_manifest")
      .collect().map(_.toString).sorted
    assert(first.sameElements(second))
  }

  test("streaming publish certifies identically and survives batch replay") {
    val sdir = TestSpark.tempDir("graft-pub-stream-in").toString
    val sout = TestSpark.tempDir("graft-pub-stream-out").toString
    // three chunks → three microbatches (maxFilesPerTrigger=1)
    for ((lo, hi, i) <- Seq((0L, 150L, 0), (150L, 300L, 1), (300L, 600L, 2))) {
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.parquet(s"$sdir/c$i")
      val part = Files.list(Paths.get(s"$sdir/c$i")).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(sdir, s"chunk$i.parquet"))
    }
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(sdir)
    val q = StreamOps.publishStream(stream, sout,
      TestSpark.tempDir("graft-ckpt-pub").toString, maxPerFile)
    q.awaitTermination()

    // the files certify to the same per-source manifest as batch publish
    val streamed = CorpusPublish.manifestOf(spark, sout, "source",
      excludeCols = Set("ingest_batch"))
    val batchM = CorpusPublish.manifestOf(spark, out, "source")
    assert(streamed == batchM)

    // a replayed batch (same id, same rows) is a committed no-op:
    // the manifest is unchanged — no duplicate rows appended
    graft.sink.CorpusPublish.publishBatch(
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 300),
      sout, 1L, "source", "doc_id", maxPerFile)
    val replayed = CorpusPublish.manifestOf(spark, sout, "source",
      excludeCols = Set("ingest_batch"))
    assert(replayed == batchM)

    // a batch-id RESTART (same id, different rows — a fresh checkpoint
    // pointed at published data) must throw, not clobber
    val clash = intercept[IllegalStateException] {
      graft.sink.CorpusPublish.publishBatch(
        docs.filter(col("doc_id") < 10),
        sout, 1L, "source", "doc_id", maxPerFile)
    }
    assert(clash.getMessage.contains("refusing to clobber"))
    assert(CorpusPublish.manifestOf(spark, sout, "source",
      excludeCols = Set("ingest_batch")) == batchM)

    // and the two layouts refuse to mix in either direction
    intercept[IllegalArgumentException] {
      CorpusPublish.publish(docs, sout, "source", "doc_id", maxPerFile)
    }
    intercept[IllegalArgumentException] {
      graft.sink.CorpusPublish.publishBatch(
        docs, out, 0L, "source", "doc_id", maxPerFile)
    }
  }

  test("checkpoint restart mid-stream: replay + new batches equal batch publish") {
    // the end-to-end form of the replay contract: a REAL streaming query
    // is stopped after its first batch, the checkpoint's commit record is
    // deleted (the crash window: sink write landed, checkpoint commit
    // didn't), more input arrives, and a NEW query on the same checkpoint
    // restarts. The engine replays batch 0 — publishBatch must no-op on
    // the matching marker — then processes the new batches; the published
    // corpus must certify identically to a one-shot batch publish.
    val sdir = TestSpark.tempDir("graft-pub-restart-in").toString
    val sout = TestSpark.tempDir("graft-pub-restart-out").toString
    val ckpt = TestSpark.tempDir("graft-pub-restart-ckpt").toString
    def addChunk(lo: Long, hi: Long, i: Int): Unit = {
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.parquet(s"$sdir/c$i")
      val part = Files.list(Paths.get(s"$sdir/c$i")).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(sdir, s"chunk$i.parquet"))
    }
    def run(): Unit = StreamOps.publishStream(
      spark.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir),
      sout, ckpt, maxPerFile).awaitTermination()

    addChunk(0L, 150L, 0)
    run() // first query: publishes + commits batch 0, then terminates
    assert(Files.exists(Paths.get(sout, "ingest_batch=0", "_graft_commit")))
    // crash window: lose the checkpoint commit, keep the published data
    // (the .crc sidecar must go too — Hadoop's local ChecksumFileSystem
    // would otherwise refuse the re-commit rename on restart)
    assert(Files.deleteIfExists(Paths.get(ckpt, "commits", "0")))
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".0.crc"))

    addChunk(150L, 300L, 1)
    addChunk(300L, 600L, 2)
    run() // second query, same checkpoint: replays 0, processes 1 and 2

    val streamed = CorpusPublish.manifestOf(spark, sout, "source",
      excludeCols = Set("ingest_batch"))
    assert(streamed == CorpusPublish.manifestOf(spark, out, "source"))
    // the replay was the marker no-op, not a rewrite-with-duplicates
    assert(spark.read.parquet(s"$sout/ingest_batch=0").count() == 150)
  }

  test("commit protocol runs through a file:// Hadoop FileSystem URI") {
    // the r6 protocol probed markers with java.nio, which silently sees
    // nothing on any scheme-qualified path — the guard rails would fail
    // OPEN off-box. This drives the full protocol (guard probe, marker
    // probe, replay no-op, collision throw, marker publish) through a
    // scheme-qualified URI that java.io cannot resolve as a local path.
    import spark.implicits._
    val local = TestSpark.tempDir("graft-pub-hadoopfs")
    val uri = "file://" + local.toString
    def batchOf(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text").withColumn("source", lit("s0"))

    CorpusPublish.publishBatch(
      batchOf(Seq((1L, "A"), (2L, "B"))), uri, 0L,
      "source", "doc_id", maxPerFile)
    // marker landed where the Hadoop FS says it should
    val hfs = new org.apache.hadoop.fs.Path(uri)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(hfs.exists(new org.apache.hadoop.fs.Path(
      s"$uri/ingest_batch=0/_graft_commit")))
    // ...and is visible locally too (same physical dir)
    assert(Files.exists(local.resolve("ingest_batch=0/_graft_commit")))

    // committed replay through the URI is a no-op
    CorpusPublish.publishBatch(
      batchOf(Seq((1L, "A"), (2L, "B"))), uri, 0L,
      "source", "doc_id", maxPerFile)
    // batch-id restart with different content through the URI throws
    val clash = intercept[IllegalStateException] {
      CorpusPublish.publishBatch(
        batchOf(Seq((9L, "Z"))), uri, 0L, "source", "doc_id", maxPerFile)
    }
    assert(clash.getMessage.contains("refusing to clobber"))
    // layout guard also fires through the URI
    intercept[IllegalArgumentException] {
      CorpusPublish.publish(
        batchOf(Seq((1L, "A"))), uri, "source", "doc_id", maxPerFile)
    }
  }

  test("commit token distinguishes XOR-colliding batches") {
    // {A,A,B} and {C,C,B} have equal row counts and equal XOR of row
    // hashes (duplicate pairs cancel, leaving hash(B) on both sides) —
    // only the additive hash sum in the token separates them. A restart
    // delivering the second batch at the first's id must THROW, not
    // no-op as a "committed replay".
    import spark.implicits._
    val d2 = TestSpark.tempDir("graft-pub-xor").toString
    def batchOf(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text").withColumn("source", lit("s0"))
    graft.sink.CorpusPublish.publishBatch(
      batchOf(Seq((1L, "A"), (1L, "A"), (2L, "B"))),
      d2, 0L, "source", "doc_id", maxPerFile)
    val clash = intercept[IllegalStateException] {
      graft.sink.CorpusPublish.publishBatch(
        batchOf(Seq((3L, "C"), (3L, "C"), (2L, "B"))),
        d2, 0L, "source", "doc_id", maxPerFile)
    }
    assert(clash.getMessage.contains("refusing to clobber"))
  }

  test("global-sort publish: disjoint ordered ranges, complete, in-file sorted") {
    val d = TestSpark.tempDir("graft-gsort").toString + "/sorted"
    val m = CorpusPublish.publishGlobalSorted(docs, d, "doc_id", 8)
    // dense unique key → every sampled range lands rows → all 8 files
    assert(m.size == 8)
    assert(m.map(_.seq) == (0 until 8))
    // pairwise disjoint AND ordered: each file strictly above its predecessor
    m.zip(m.tail).foreach { case (a, b) =>
      assert(a.max_key < b.min_key, s"ranges overlap at seq ${b.seq}")
    }
    // complete: exact doc_id multiset round-trip
    val back = spark.read.parquet(d)
    assert(back.count() == docs.count())
    assert(back.select("doc_id").except(docs.select("doc_id")).isEmpty)
    assert(docs.select("doc_id").except(back.select("doc_id")).isEmpty)
    // the total order lives IN the files: each file's physical row order
    // is sorted and matches its manifest entry exactly
    m.foreach { f =>
      val ids = spark.read.parquet(f.file)
        .select("doc_id").collect().map(_.getLong(0))
      assert(ids.sameElements(ids.sorted), s"file seq ${f.seq} not sorted")
      assert(ids.head == f.min_key && ids.last == f.max_key
        && ids.length == f.n_rows)
    }
    // _range_manifest round-trips and is invisible to the data read
    assert(spark.read.parquet(s"$d/_range_manifest").count() == 8)
    assert(!back.columns.contains("seq"))
    // re-publish of the same input re-certifies the same total order
    val m2 = CorpusPublish.publishGlobalSorted(docs, d, "doc_id", 8)
    assert(m2.map(f => (f.seq, f.min_key, f.max_key, f.n_rows))
      == m.map(f => (f.seq, f.min_key, f.max_key, f.n_rows)))
  }
}
