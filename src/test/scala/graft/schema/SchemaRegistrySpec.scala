package graft.schema

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class SchemaRegistrySpec extends AnyFunSuite {
  private val v1 = StructType(Seq(StructField("id", LongType)))
  private val v2 = StructType(Seq(StructField("id", LongType), StructField("x", StringType)))

  test("revision ids are deterministic and idempotent at the head") {
    val r = new SchemaRegistry
    val a = r.register("t", v1)
    val b = r.register("t", v1)
    assert(a.revisionId === b.revisionId)
    assert(r.history("t").size === 1)
  }

  test("evolution appends; re-registering an older schema makes it latest again") {
    val r = new SchemaRegistry
    r.register("t", v1)
    r.register("t", v2)
    assert(r.latest("t").schema === v2)
    r.register("t", v1)
    assert(r.latest("t").schema === v1)
    assert(r.history("t").size === 3)
    assert(r.revision("t", r.revisionIdOf(v2)).isDefined)
  }

  test("unknown name throws") {
    assertThrows[NoSuchElementException](new SchemaRegistry().latest("nope"))
  }

  test("persist + load round-trips history, order, and revision ids") {
    val dir = java.nio.file.Files.createTempDirectory("graft-registry").toString
    val r = new SchemaRegistry
    r.register("topic", v1)
    r.register("topic", v2)
    r.register("sink", v2)
    r.register("topic", v1) // v1 becomes latest again
    r.persist(dir)

    val loaded = SchemaRegistry.load(dir)
    assert(loaded.latest("topic").schema === v1)
    assert(loaded.latest("sink").schema === v2)
    assert(loaded.history("topic").map(_.revisionId) === r.history("topic").map(_.revisionId))
    assert(loaded.history("topic").size === 3)
  }

  test("a registry persisted to a file: URI lands at that path and loads back from it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-registry-uri")
    val r = new SchemaRegistry
    r.register("topic", v1)
    r.register("topic", v2)
    r.persist(dir.toUri.toString)
    assert(java.nio.file.Files.isDirectory(dir.resolve("topic")))
    for (d <- Seq(dir.toUri.toString, dir.toString))
      assert(SchemaRegistry.load(d).history("topic").map(_.revisionId) ===
        r.history("topic").map(_.revisionId), d)
  }
}
