package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchDevSpec extends AnyFunSuite {
  test("top: spec is parsed from the right, so paths may contain ':'") {
    assert(BenchDev.parseTop("top:f") === ("f", 30))
    assert(BenchDev.parseTop("top:f:7") === ("f", 7))
    assert(BenchDev.parseTop("top:/a:b.txt") === ("/a:b.txt", 30))
    assert(BenchDev.parseTop("top:/a:b.txt:7") === ("/a:b.txt", 7))
    intercept[RuntimeException](BenchDev.parseTop("top:"))
  }
}
