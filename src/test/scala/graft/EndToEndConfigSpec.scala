package graft

import org.apache.spark.sql.functions._

import graft.model.GraftConfigFile
import graft.operators.JdbcMerger
import graft.schema.AvroBackend
import graft.testkit.TestKit

/** The round-7 pieces composed end-to-end, the way a migrated deimos
  * app would run: a declarative config FILE defines the topic (schema
  * resolved from schema.path, key config, batch size), the consumer is
  * driven through the REAL encode path by the testkit helper, and the
  * compacted output merges into a REAL database (embedded Derby, Ansi
  * MERGE) — then the whole batch replays and the table proves
  * at-least-once idempotence. No mocks anywhere on the data path.
  */
class EndToEndConfigSpec extends SparkSpec {
  import spark.implicits._

  test("config file → consumer → live Derby merge → idempotent replay") {
    // --- the app's config file + schema file ---
    val schemaDir = java.nio.file.Files.createTempDirectory("e2e-schemas")
    val ns = schemaDir.resolve("com.example")
    java.nio.file.Files.createDirectories(ns)
    java.nio.file.Files.writeString(ns.resolve("Widget.avsc"),
      """{"type":"record","name":"Widget","namespace":"com.example",
        |"fields":[
        | {"name":"wid","type":"string"},
        | {"name":"amount","type":"long"},
        | {"name":"version","type":"long"}
        |]}""".stripMargin)
    val cfgFile = java.nio.file.Files.createTempFile("e2e", ".properties")
    java.nio.file.Files.writeString(cfgFile,
      s"""schema.backend = avro
         |schema.path = $schemaDir
         |topic.widgets.schema = Widget
         |topic.widgets.namespace = com.example
         |topic.widgets.key_config = plain:wid
         |topic.widgets.max_db_batch_size = 100
         |""".stripMargin)
    val cfg = GraftConfigFile.load(cfgFile)
    val topicCfg = cfg.topic("widgets")
    val backend = new AvroBackend(java.nio.file.Files.readString(
      cfg.schema.schemaFile(topicCfg.namespace, topicCfg.schemaName)))

    // --- the consumer, configured from the file ---
    object Hooks extends graft.consume.ConsumerHooks {
      override def isTombstone = col("payload").isNull
    }
    val consumer = new graft.consume.BatchConsumer(topicCfg, backend,
      Hooks, keyCols = Seq("decoded_key"), orderCol = "offset")

    // --- the real target database ---
    val url = "jdbc:derby:memory:e2ecfg;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      """CREATE TABLE "widgets" ("decoded_key" VARCHAR(32) NOT NULL,
        |  "amount" BIGINT, "version" BIGINT, "deleted" BOOLEAN,
        |  PRIMARY KEY ("decoded_key"))""".stripMargin)

    // --- one batch through encode → decode → compact → merge ---
    val payloads = Seq(
      (1L, "A", 5L, 1L), (2L, "A", 6L, 2L), // A compacts to v2
      (3L, "B", 9L, 1L), (4L, "C", 1L, 1L))
      .toDF("offset", "wid", "amount", "version")
    def runBatch(): Unit = {
      val (up, del) = TestKit.testConsumeBatch(consumer, payloads,
        keyCol = col("wid"), tombstones = Seq("C"))
      val merged = up.select(col("decoded_key"),
        col("payload.amount").as("amount"),
        col("payload.version").as("version"))
        .withColumn("deleted", lit(false))
        // a version-guarded merge needs a version on every row: the
        // tombstone's is its offset, newer than every payload version
        .unionByName(del.select(col("decoded_key"), col("offset").as("version"))
          .withColumn("amount", lit(null).cast("long"))
          .withColumn("deleted", lit(true)))
      JdbcMerger.mergeIntoJdbc(merged, url, "widgets",
        Seq("decoded_key"), col("deleted"), JdbcMerger.Ansi,
        new java.util.Properties,
        maxBatchSize = topicCfg.maxDbBatchSize.getOrElse(1000),
        versionCol = Some("version"), retrySleeper = _ => ())
    }
    runBatch()

    def table(): Seq[(String, Long, Long)] = {
      val rs = conn.createStatement().executeQuery(
        """SELECT "decoded_key", "amount", "version" FROM "widgets"
          |ORDER BY "decoded_key"""".stripMargin)
      val out = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
      while (rs.next()) out += ((rs.getString(1), rs.getLong(2), rs.getLong(3)))
      out.toSeq
    }
    val afterFirst = table()
    assert(afterFirst === Seq(("A", 6L, 2L), ("B", 9L, 1L)))

    // --- at-least-once: the SAME batch replays; state is unchanged ---
    runBatch()
    assert(table() === afterFirst)
    conn.close()
  }
}
