package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.util.{Harness, Md5}

/** The harness mains' shared argument handling: the `SPARK_GRAFT_ONLY`
  * selection Bench and Verify both apply, and the `k=v` conf parser of
  * RunOne and Explain. */
class HarnessSpec extends AnyFunSuite {

  test("empty selection selects every query") {
    for (only <- Seq(None, Some(""), Some(" , ")))
      assert(Harness.selection(only)("q110_anything"), s"only=$only")
  }

  test("a qNN prefix selects that query, not a longer number sharing it") {
    val sel = Harness.selection(Some("q11"))
    assert(sel("q11_topk"))
    assert(!sel("q110_vocab"))
    assert(!sel("q1_scan"))
  }

  test("a full name selects exactly that query") {
    val sel = Harness.selection(Some(" q46_checkpoint ,q78_x"))
    assert(sel("q46_checkpoint"))
    assert(sel("q78_x"))
    assert(!sel("q46_other"))
    assert(!sel("q47_checkpoint"))
  }

  test("k=v conf arguments split on the first '='") {
    assert(Harness.confArg("spark.a=b") === ("spark.a" -> "b"))
    assert(Harness.confArg("spark.a=b=c") === ("spark.a" -> "b=c"))
    assert(Harness.confArg("spark.a=") === ("spark.a" -> ""))
  }

  test("a conf argument without '=' fails naming the argument") {
    val e = intercept[IllegalArgumentException](
      Harness.confArg("spark.graft.noValue"))
    assert(e.getMessage.contains("spark.graft.noValue"))
  }

  test("Md5.hex keeps the encoding that names durable roots") {
    assert(Md5.hex("") === "d41d8cd98f00b204e9800998ecf8427e")
    assert(Md5.hex("abc") === "900150983cd24fb0d6963f7d28e17f72")
    // multi-byte UTF-8 input hashes its UTF-8 bytes
    assert(Md5.hex("ä") === "8419b71c87a225a2c70b50486fbee545")
  }
}
