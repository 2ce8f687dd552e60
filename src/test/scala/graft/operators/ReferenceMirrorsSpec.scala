package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.EngineConfig

/** Pins of three public defs that mirror a deimos reference API and
  * have no caller inside the library: the per-class producer switch
  * (`lib/deimos/producer.rb:16-57`), the boolean coercion rule
  * (`avro_schema_coercer.rb:115-117`) and the outbox's distinct-topic
  * scan (`outbox_producer.rb:65-67`). */
class ReferenceMirrorsSpec extends SparkSpec {
  import spark.implicits._

  test("EngineConfig.enable restores a producer class that disable switched off") {
    EngineConfig.disable("MirrorA")
    try {
      assert(!EngineConfig.producerEnabled("MirrorA"))
      assert(EngineConfig.producerEnabled("MirrorB"), "other classes unaffected")
    } finally EngineConfig.enable("MirrorA")
    assert(EngineConfig.producerEnabled("MirrorA"))
  }

  test("Pipeline.coerceBoolean is the reference's !(nil || false)") {
    val got = Seq[Option[String]](Some("true"), Some("false"), None, Some("1"),
      Some("0")).toDF("b")
      .select(Pipeline.coerceBoolean(col("b")))
      .as[Option[Boolean]].collect().toSeq
    assert(got === Seq(Some(true), Some(false), Some(false), Some(true),
      Some(false)))
  }

  test("Outbox.distinctTopics lists each staged topic once") {
    val staged = Seq(("a", 1L), ("b", 2L), ("a", 3L)).toDF("topic", "id")
    assert(Outbox.distinctTopics(staged).as[String].collect().sorted ===
      Array("a", "b"))
  }
}
