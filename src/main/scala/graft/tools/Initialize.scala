package graft.tools

import org.apache.spark.sql.SparkSession
import graft.core.Database

/** Initialize CLI — the analog of the reference's `initialize`
  * subcommand (app/src/main.cpp; src/silo/config/initialize_config.cpp;
  * initialize/initializer.cpp): assemble and VALIDATE an empty,
  * servable data directory from the config inputs, so `append` can fill
  * it incrementally and `api` (Serve) can serve it — the
  * initialize → append → api workflow, no preprocessing NDJSON needed.
  *
  * {{{
  * graft.tools.Initialize --input-directory cfg/ --output-directory /data
  * }}}
  *
  * Key spellings follow the reference's InitializeConfig
  * (`inputDirectory` default `./`, `outputDirectory`, `databaseConfig`,
  * `referenceGenomeFilename`, `lineageDefinitionFilenames`,
  * `phyloTreeFilename`, and an `initializeConfig` YAML layered under
  * env < CLI). The config files are copied into the output directory
  * under the canonical names the serve/append layout expects, an EMPTY
  * `input.ndjson` is written, and the whole directory is validated by
  * building the (empty) catalog once — a bad config fails HERE, loudly,
  * not on the first append.
  */
object Initialize {

  val Keys: Seq[String] = Seq(
    "initializeConfig", "inputDirectory", "outputDirectory",
    "databaseConfig", "referenceGenomeFilename",
    "lineageDefinitionFilenames", "phyloTreeFilename")

  private val config = new KeyedConfig(Keys,
    defaults = Map("inputDirectory" -> "./"),
    fileKeys = Seq("initializeConfig"))

  def resolve(args: Seq[String], env: Map[String, String]): Map[String, String] =
    config.resolve(args, env)

  /** Run one initialize; returns the validated output directory. */
  def run(spark: SparkSession, m: Map[String, String]): String = {
    val inDir = m("inputDirectory")
    val outDir = m.getOrElse("outputDirectory",
      sys.error("outputDirectory is required (--output-directory <dir>)"))
    def inPath(key: String, default: String): java.nio.file.Path = {
      val v = m.getOrElse(key, default)
      val p = java.nio.file.Paths.get(v)
      if (p.isAbsolute) p else java.nio.file.Paths.get(inDir).resolve(v)
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def copyTo(src: java.nio.file.Path, name: String): Unit = {
      if (!java.nio.file.Files.isRegularFile(src))
        sys.error(s"initialize: missing input file $src")
      java.nio.file.Files.copy(src,
        java.nio.file.Paths.get(outDir, name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    copyTo(inPath("databaseConfig", "database_config.yaml"),
      "database_config.yaml")
    copyTo(inPath("referenceGenomeFilename", "reference_genomes.json"),
      "reference_genomes.json")
    // lineage definitions keep their config-referenced RELATIVE paths
    // (the config may say `lineages/foo.yaml`; flattening to the
    // basename would break the build's configDir-relative resolution);
    // the key accepts a comma-separated list like the reference's plural
    m.get("lineageDefinitionFilenames").toSeq
      .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .foreach { f =>
        val p = inPath("", f)
        val rel = if (java.nio.file.Paths.get(f).isAbsolute)
          p.getFileName.toString
        else f
        Option(java.nio.file.Paths.get(outDir, rel).getParent)
          .foreach(java.nio.file.Files.createDirectories(_))
        copyTo(p, rel)
      }
    // the tree keeps its extension — and only the two the build
    // dispatches on are valid (fail HERE with a clear message, not in
    // the validation build with a misleading missing-file error)
    m.get("phyloTreeFilename").foreach { f =>
      val p = inPath("", f)
      val name = p.getFileName.toString
      val ext = Seq("nwk", "json").find(e => name.endsWith(s".$e"))
        .getOrElse(sys.error(
          s"initialize: phylo tree must be a .nwk or .json file, got $name"))
      copyTo(p, s"phylogenetic_tree.$ext")
    }
    val empty = java.nio.file.Paths.get(outDir, "input.ndjson")
    if (!java.nio.file.Files.exists(empty))
      java.nio.file.Files.writeString(empty, "")
    // VALIDATE: the empty catalog must build — parses the config,
    // reference genomes, lineage yamls, and the tree exactly like the
    // serving path will (reference: the Initializer constructs the empty
    // database state, failing on any inconsistent input). No stateDir:
    // an empty-input index generation would be dead weight the first
    // append invalidates anyway.
    Database.build(spark, outDir, empty.toString, stateDir = None)
    outDir
  }

  def main(args: Array[String]): Unit =
    config.main(args, "Initialize",
      "assemble + validate an empty data directory") { (spark, m) =>
      val out = run(spark, m)
      println(s"[initialize] empty data directory ready at $out")
    }
}
