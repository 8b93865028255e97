package graft.tools

import graft.SparkSpec

/** Cross-subcommand config behavior: one runtime_config.yaml serves the
  * whole deployment (each CLI skips its siblings' keys, a key NO
  * subcommand knows still fails loudly), and the append commit list
  * orders NUMERICALLY past the zero-padding width.
  */
class CliConfigSpec extends SparkSpec {

  test("a SHARED runtime config parses under every subcommand: sibling " +
    "keys are skipped, a truly unknown key still fails") {
    val yaml = java.nio.file.Files.createTempFile("shared_runtime", ".yaml")
    // a realistic deployment config mixing serve + append settings
    java.nio.file.Files.writeString(yaml,
      """api:
        |  port: 9999
        |  accessLog: true
        |maintenance:
        |  intervalSeconds: 600
        |appendFile: /data/batch.ndjson
        |query:
        |  timeoutInSeconds: 11
        |""".stripMargin)
    // serve keeps its own keys and SKIPS appendFile
    val sv = Serve.parseYamlFile(yaml.toString)
    assert(sv("api.port") === "9999")
    assert(sv("maintenance.intervalSeconds") === "600")
    assert(!sv.contains("appendFile"))
    // append keeps appendFile and SKIPS the api/query/maintenance keys
    val ap = Append.resolve(
      Seq("--runtime-config", yaml.toString), Map.empty)
    assert(ap("appendFile") === "/data/batch.ndjson")
    assert(!ap.contains("api.port") && !ap.contains("query.timeoutInSeconds"))
    // preprocess tolerates the whole file too (it shares dataDirectory)
    val pp = Preprocess.resolve(
      Seq("--runtime-config", yaml.toString,
        "--data-directory", "/tmp/x"), Map.empty)
    assert(pp("dataDirectory") === "/tmp/x")
    assert(!pp.contains("appendFile"))
    // a key NO subcommand knows is a typo, not a sibling's setting
    val bad = java.nio.file.Files.createTempFile("bad_runtime", ".yaml")
    java.nio.file.Files.writeString(bad, "api:\n  prot: 1\n")
    intercept[RuntimeException](Serve.parseYamlFile(bad.toString))
    intercept[RuntimeException](Append.resolve(
      Seq("--runtime-config", bad.toString), Map.empty))
  }

  test("GraftSession pins UTC and nanosAsLong, and sizes shuffle " +
    "partitions to the master's core count") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") ===
      spark.sparkContext.defaultParallelism.toString)
    assert(graft.GraftSession.defaultMaster(Map.empty) === "local[*]")
    assert(graft.GraftSession.defaultMaster(
      Map("SPARK_GRAFT_CPUS" -> "6")) === "local[6]")
    assert(graft.GraftSession.defaultMaster(Map("SPARK_GRAFT_CPUS" -> "6",
      "SPARK_MASTER" -> "spark://h:7077")) === "spark://h:7077")
  }

  test("--help lists every key's CLI and env spelling") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Append.main(Array("--help")))
    val lines = out.toString("UTF-8").linesIterator.toSeq
    assert(lines.head.startsWith("graft.tools.Append "))
    assert(lines.tail.map(_.trim.split("\\s+").toSeq) === Append.Keys.map(k =>
      Seq(KeyedConfig.cliName(k), KeyedConfig.envName(k))))
  }

  test("currentInput orders append commits NUMERICALLY by sequence, " +
    "not lexicographically") {
    val dir = java.nio.file.Files.createTempDirectory("apporder")
    java.nio.file.Files.writeString(dir.resolve("input.ndjson"), "")
    // past the %06d padding a lexicographic sort would put 1000000
    // BEFORE 999999
    Seq("append-999999.ndjson", "append-1000000.ndjson",
      "append-000002.ndjson").foreach(n =>
      java.nio.file.Files.writeString(dir.resolve(n), ""))
    val got = Serve.currentInput(dir.toString).split(",").toSeq
      .map(p => new java.io.File(p).getName)
    assert(got === Seq("input.ndjson", "append-000002.ndjson",
      "append-999999.ndjson", "append-1000000.ndjson"))
  }

  test("currentInput keeps serving LOOSE append-* names (pre-numeric " +
    "deployments) — after every numbered commit, never dropped") {
    val dir = java.nio.file.Files.createTempDirectory("apploose")
    java.nio.file.Files.writeString(dir.resolve("input.ndjson"), "")
    Seq("append-000002.ndjson", "append-backfill.ndjson",
      "append-1-fix.ndjson.zst", "append-notes.txt").foreach(n =>
      java.nio.file.Files.writeString(dir.resolve(n), ""))
    val got = Serve.currentInput(dir.toString).split(",").toSeq
      .map(p => new java.io.File(p).getName)
    // append-notes.txt is not an ndjson input and stays excluded; the
    // loose ndjson names order lexicographically after the numbered one
    assert(got === Seq("input.ndjson", "append-000002.ndjson",
      "append-1-fix.ndjson.zst", "append-backfill.ndjson"))
  }
}
