package graft.tools

import org.apache.spark.sql.SparkSession
import graft.core.Database

/** Preprocessing CLI — the analog of the reference's `preprocessing`
  * subcommand (app/src/main.cpp;
  * src/silo/preprocessing/preprocessing.cpp): build the database state
  * from a data directory EAGERLY and exit, so a later `api` (Serve)
  * boot finds the served table and the persisted posting indexes under
  * `<dataDirectory>/state` and classifies its first build as a pure
  * load instead of paying ingest and index construction at serve time.
  *
  * {{{
  * graft.tools.Preprocess --data-directory /data
  * }}}
  *
  * The input is the same serve/append layout: `input.ndjson[.zst|.xz]`
  * plus any `append-*.ndjson` commits ([[Serve.currentInput]]).
  */
object Preprocess {

  val Keys: Seq[String] =
    Seq("dataDirectory", "runtimeConfig", "defaultRuntimeConfig")

  // a shared runtime_config.yaml may carry serve/append keys — skip
  // them instead of failing (see KeyedConfig.tolerate)
  private val config = new KeyedConfig(Keys,
    tolerate = Serve.Keys.toSet ++ Append.Keys.toSet)

  def resolve(args: Seq[String], env: Map[String, String]): Map[String, String] =
    config.resolve(args, env)

  /** Run one preprocessing build; returns (row count, data version). */
  def run(spark: SparkSession, m: Map[String, String]): (Long, String) = {
    val dataDir = m.getOrElse("dataDirectory",
      sys.error("dataDirectory is required (--data-directory <dir>)"))
    val input = Serve.currentInput(dataDir)
    val stateDir = new java.io.File(dataDir, "state").getPath
    val catalog = Database.build(spark, dataDir, input,
      stateDir = Some(stateDir))
    // preprocessing is the one guaranteed COLD START in the lifecycle —
    // no reader can hold a pre-rebuild table or index generation — so
    // this is where superseded generations reclaim (SeqIndex.gc's and
    // Database.gcTable's stated contract); a serve-time gc could race a
    // live reader
    Option(new java.io.File(stateDir, "index").listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory)
      .foreach(d => graft.lang.Planner.SeqIndex.gc(spark, d.getPath))
    Database.gcTable(stateDir)
    // the committed layers' recorded row counts, not another scan
    val table = Database.tableDir(stateDir)
    val rows = graft.sources.NdjsonIngest.chainRowCount(table,
        graft.sources.NdjsonIngest.latestLayers(table))
      .getOrElse(catalog.tables("default").count())
    (rows, Database.inputFingerprint(spark, input))
  }

  def main(args: Array[String]): Unit =
    config.main(args, "Preprocess",
      "eagerly build a data directory's state") { (spark, m) =>
      val (rows, version) = run(spark, m)
      println(s"[preprocess] built state for $rows rows (data version $version)")
    }
}
