package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's pure parts (floor gate, floors, `top:` selection, summary line)
  * on synthetic timings, and its job attribution on a real session. */
class BenchSpec extends AnyFunSuite {

  test("floor trigger: a min-of-2 over 2x its committed floor is repassed") {
    // a 1.61 s best against a 0.35 s floor is flagged; the cheap query
    // under its floor is not
    val results = Seq(("q80", 1.61), ("qa", 0.3))
    val floors = Map("q80" -> 0.352, "qa" -> 0.29)
    assert(Bench.floorCandidates(results, floors) === Seq("q80"))
    // exactly at 2x is NOT flagged (strict >): noise envelope, not a bar
    assert(Bench.floorCandidates(Seq(("qa", 0.58)), Map("qa" -> 0.29)).isEmpty)
    // missing floor, zero floor -> inert, never a division artifact
    assert(Bench.floorCandidates(results, Map("qz" -> 0.1)).isEmpty)
    assert(Bench.floorCandidates(Seq(("qa", 9.0)), Map("qa" -> 0.0)).isEmpty)
  }

  test("floor trigger is capped by worst excursion ratio") {
    // a uniformly slower box must not re-run the whole battery: the cap
    // keeps the worst offenders by best/floor
    val results = (1 to 50).map(i => (f"q$i%02d", 1.0 + i * 0.1))
    val floors = results.map { case (n, _) => n -> 0.3 }.toMap
    val picked = Bench.floorCandidates(results, floors, cap = 5)
    assert(picked.size === 5)
    assert(picked.head === "q50") // largest best/floor first
  }

  test("floor gate decides as the floor trigger on the same inputs") {
    val stays = (rs: Seq[(String, Double)]) => rs.toMap.get _
    val results = Seq(("q80", 1.61), ("qa", 0.3))
    val floors = Map("q80" -> 0.352, "qa" -> 0.29)
    val g = Bench.floorGate(results, floors, stays(results))
    assert(!g.ok && g.over === Seq("q80") && g.rounds === 3)
    for ((rs, fs) <- Seq(
        Seq(("qa", 0.58)) -> Map("qa" -> 0.29),
        results -> Map("qz" -> 0.1),
        Seq(("qa", 9.0)) -> Map("qa" -> 0.0))) {
      val clean = Bench.floorGate(rs, fs, _ => fail("nothing to re-time"))
      assert(clean.ok && clean.rounds === 0 && clean.results === rs)
    }
    val slow = (1 to 50).map(i => (f"q$i%02d", 1.0 + i * 0.1))
    val capped = Bench.floorGate(slow,
      slow.map { case (n, _) => n -> 0.3 }.toMap, stays(slow))
    assert(capped.over.size === 32 && capped.over.head === "q50")
  }

  private val floors = (1 to 20).map(i => f"q$i%02d" -> (0.1 + i * 0.01)).toMap
  private val seeded = Set("q03", "q11", "q17")
  private val battery = floors.toSeq.sorted.map { case (n, f) =>
    n -> (if (seeded(n)) 3 * f else 1.1 * f) }

  test("a seeded 3x slowdown that stays slow when re-timed fails the floor gate") {
    var retimed = Set.empty[String]
    val g = Bench.floorGate(battery, floors, { n =>
      retimed += n; Some(if (seeded(n)) 3 * floors(n) else floors(n)) })
    assert(!g.ok)
    assert(g.over.toSet === seeded)
    assert(g.rounds === 3)
    assert(retimed === seeded) // only the queries over their floor re-run
    // a failed re-time keeps the old best: the regression still shows
    assert(Bench.floorGate(battery, floors, _ => None).over.toSet === seeded)
  }

  test("an episode that is fast when re-timed passes the floor gate") {
    val g = Bench.floorGate(battery, floors, n => Some(floors(n)))
    assert(g.ok && g.rounds === 1)
    for (n <- seeded) assert(g.results.toMap.apply(n) === floors(n))
  }

  test("committed floors load for the sf under test") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val floors = Bench.loadFloors(s"/root/testdata/$sf")
      assert(floors.get("q01_scan_project").exists(_ > 0), sf)
      assert(floors.size > 250, s"$sf floors look truncated")
    }
  }

  test("floors raise-note arithmetic (gen_floors.py --selftest)") {
    // the header note Bench quotes into floor_gate provenance is
    // computed by gen_floors.py; its --selftest pins the raise counting
    // and the committed-round baseline resolution
    val pb = new ProcessBuilder("python3", "scripts/gen_floors.py",
      "--selftest")
    pb.directory(new java.io.File("."))
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    assert(p.waitFor() === 0, s"selftest failed:\n$out")
    assert(out.contains("gen_floors selftest OK"))
  }

  test("gen_floors.py reads Bench's own records and refuses an empty set") {
    // run a copy in a scratch tree, so the committed tsv is never written
    import java.nio.file.{Files, Path}
    val root = TestSpark.tempDir("graft-gen-floors")
    Files.createDirectories(root.resolve("scripts"))
    Files.copy(Path.of("scripts/gen_floors.py"),
      root.resolve("scripts/gen_floors.py"))
    val tsv = root.resolve("scripts/bench_floors.tsv")
    val before = "# old floors\nsf0.01\tq1\t1.000\n"
    Files.writeString(tsv, before)
    def gen(dir: Path): (Int, String) = {
      val pb = new ProcessBuilder("python3", "scripts/gen_floors.py",
        dir.toString)
      pb.directory(root.toFile)
      pb.redirectErrorStream(true)
      val p = pb.start()
      val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
      (p.waitFor(), out)
    }
    val empty = Files.createDirectories(root.resolve("empty"))
    val (rc0, out0) = gen(empty)
    assert(rc0 != 0, s"an empty capture set exited 0:\n$out0")
    assert(Files.readString(tsv) === before)
    val caps = Files.createDirectories(root.resolve("caps"))
    Files.writeString(caps.resolve("sf0.01-1792440000.json"),
      """{"metric":"total","queries":{"q1":0.5,"q2":0.7},"jobs":{"q1":9}}""")
    Files.writeString(caps.resolve("bench_0.01_1.json"),
      """{"queries":{"q1":0.4}}""")
    val (rc1, out1) = gen(caps)
    assert(rc1 === 0, out1)
    val rows = scala.io.Source.fromFile(tsv.toFile).getLines()
      .filterNot(_.startsWith("#")).toList
    assert(rows === List("sf0.01\tq1\t0.400", "sf0.01\tq2\t0.700"))
  }

  test("top: spec is parsed from the right, so paths may contain ':'") {
    assert(Bench.parseTop("top:f") === ("f", 30))
    assert(Bench.parseTop("top:f:7") === ("f", 7))
    assert(Bench.parseTop("top:/a:b.txt") === ("/a:b.txt", 30))
    assert(Bench.parseTop("top:/a:b.txt:7") === ("/a:b.txt", 7))
    intercept[RuntimeException](Bench.parseTop("top:"))
  }

  test("top: ranks a record holding both maps by seconds, not job counts") {
    val record = """{"metric":"total","jobs":{"qa":90,"qb":3,"qc":12},""" +
      """"queries":{"qa":0.5,"qb":2.25,"qc":1e-3},"errors":{}}"""
    assert(Bench.topQueries(record) === Seq("qb", "qa", "qc"))
    assert(Bench.topQueries("""{"jobs":{"qa":1}}""").isEmpty)
  }

  test("summary line: under 1 KB, parses as JSON, names the record path") {
    val path = "target/bench/sf0.1-1792440000.json"
    val sf = "/data/" + "x" * 300 + "/sf0.1"
    val line = Bench.summaryLine(198.765, gateOk = false, 314, 2, 32, 12.34, path, sf)
    assert(line.getBytes("UTF-8").length <= 1024, line)
    val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(j.get("full").asText === path)
    assert(j.get("value").asDouble === 198.765)
    assert(!j.get("gate_ok").asBoolean)
    assert(j.get("n_queries").asInt === 314 && j.get("n_errors").asInt === 2)
    assert(j.get("cpus").asInt === 32 && j.get("steal_pct").asDouble === 12.34)
    assert(j.get("sf").asText === sf)
    assert(!j.has("queries"), "per-query map is back")
  }

  test("with AQE on, every job of a two-query run is attributed to its query") {
    val spark = TestSpark.spark
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    val sc = spark.sparkContext
    val jobs = new Bench.JobCounter
    sc.addSparkListener(jobs)
    val names = Seq("q16_star_join", "q216_rolling_distinct")
    try {
      for (n <- names) assert(Bench.timeQuery(spark, "/root/testdata/sf0.001", n)._2.isEmpty, n)
      // the bus delivers in order: once the marker job is counted, so is
      // every job before it
      sc.setLocalProperty(Bench.Label, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Bench.Label, null)
      val deadline = System.nanoTime() + 60e9.toLong
      while (jobs("marker") == 0 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs("marker") === 1)
    } finally sc.removeSparkListener(jobs)
    assert(jobs("other") === 0)
    for (n <- names) {
      assert(jobs(s"$n#1") > 0, n)
      assert(jobs(n) > 0, n)
    }
  }
}
