package graft.tools

import org.apache.spark.sql.SparkSession

/** Reference-style runtime-config layering shared by the CLI entry
  * points (Serve, Append, Preprocess, Initialize): defaults <
  * default-runtime-config file < runtime-config file < environment <
  * command line, with CLI/env spellings derived mechanically from the
  * dotted YAML key paths exactly like the reference's
  * CommandLineArguments / EnvironmentVariables `configKeyPathToString`
  * pair (config/source/yaml_file.cpp:140, environment_variables.cpp:45).
  */
/** `tolerate` (by-name — the CLI objects reference each other's key
  * sets, and eager evaluation at construction would cycle their object
  * initializers): keys a SHARED config file may legitimately carry for
  * OTHER subcommands. One runtime_config.yaml typically serves a whole
  * deployment — `rhydb append` pointed at the server's config (api.*
  * keys and all) must skip those keys, not die on them — while a key NO
  * subcommand knows still fails loudly (it is a typo, not a sibling's
  * setting). Tolerated keys never enter the parse result: only this
  * subcommand's own keys do.
  *
  * `fileKeys`: which keys name LAYERED CONFIG FILES, weakest first
  * (Serve/Append/Preprocess use the runtime-config pair; Initialize the
  * reference's single `initializeConfig`).
  */
final class KeyedConfig(val keys: Seq[String],
    boolKeys: Set[String] = Set.empty,
    tolerate: => Set[String] = Set.empty,
    defaults: Map[String, String] = Map.empty,
    fileKeys: Seq[String] = Seq("defaultRuntimeConfig", "runtimeConfig")) {
  import KeyedConfig._

  private lazy val tolerated = tolerate
  private lazy val byCli = keys.map(k => cliName(k) -> k).toMap
  private lazy val byEnv = keys.map(k => envName(k) -> k).toMap

  /** Parse `--key value` / `--key=value` args onto dotted keys; boolean
    * keys may omit the value. Unknown options fail loudly (the
    * reference rejects unknown CLI keys too).
    */
  def parseArgs(args: Seq[String]): Map[String, String] = {
    @annotation.tailrec
    def loop(rest: List[String], acc: Map[String, String]): Map[String, String] =
      rest match {
        case Nil => acc
        case arg :: tail if arg.startsWith("--") =>
          val (name, inline) = arg.indexOf('=') match {
            case -1 => (arg, None)
            case i => (arg.take(i), Some(arg.drop(i + 1)))
          }
          val key = byCli.getOrElse(name,
            sys.error(s"unknown option '$name' (known: " +
              s"${byCli.keys.toSeq.sorted.mkString(", ")})"))
          inline match {
            case Some(v) => loop(tail, acc + (key -> v))
            case None if boolKeys(key) => tail match {
              // boolean keys accept the space-separated value form too —
              // '--x true' must not strand an orphan token
              case v :: t2 if v == "true" || v == "false" =>
                loop(t2, acc + (key -> v))
              case _ => loop(tail, acc + (key -> "true"))
            }
            case None => tail match {
              case v :: t2 => loop(t2, acc + (key -> v))
              case Nil => sys.error(s"option '$name' needs a value")
            }
          }
        case other :: _ => sys.error(s"unexpected argument '$other'")
      }
    loop(args.toList, Map.empty)
  }

  /** Env-provided settings (GRAFT_-prefixed, reference ENV_VAR_PREFIX
    * discipline); unknown GRAFT_ variables are ignored rather than fatal
    * (the process env is a shared namespace).
    */
  def parseEnv(env: Map[String, String]): Map[String, String] =
    env.flatMap { case (k, v) => byEnv.get(k).map(_ -> v) }

  def parseYamlFile(path: String): Map[String, String] = {
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    val parsed = new org.yaml.snakeyaml.Yaml().load[Any](txt)
    val flat = flattenYaml(parsed)
    flat.keys.find(k => !keys.contains(k) && !tolerated.contains(k))
      .foreach(k => sys.error(s"unknown key '$k' in config file $path"))
    flat.filter { case (k, _) => keys.contains(k) }
  }

  /** The effective settings: defaults < default-config file < config
    * file < env < CLI — the reference's source order
    * (runtime_config.cpp getConfigFilePaths + overwriteFrom sequence).
    * The config-file PATHS themselves resolve from env/CLI first, like
    * the reference's `--runtime-config` option.
    */
  def resolve(args: Seq[String], env: Map[String, String])
      : Map[String, String] = {
    val cli = parseArgs(args)
    val fromEnv = parseEnv(env)
    val paths = fromEnv ++ cli
    val fileLayers = fileKeys.flatMap(k =>
      paths.get(k).map(parseYamlFile).getOrElse(Map.empty))
      .foldLeft(Map.empty[String, String])(_ + _)
    defaults ++ fileLayers ++ fromEnv ++ cli
  }

  /** The shared `main` of the data-directory CLIs (`name` is the
    * object in `graft.tools`): `--help` prints `summary` and every key's
    * CLI and env spelling; otherwise the settings resolve from `args`
    * and the process env, `body` runs on a [[graft.GraftSession]], and
    * the session stops when `body` returns or throws.
    */
  def main(args: Array[String], name: String, summary: String)(
      body: (SparkSession, Map[String, String]) => Unit): Unit =
    if (args.contains("--help")) {
      val width = keys.map(cliName(_).length).max
      println(s"graft.tools.$name — $summary")
      keys.foreach(k =>
        println(s"  ${cliName(k).padTo(width, ' ')} ${envName(k)}"))
    } else {
      val m = resolve(args.toSeq, sys.env)
      val spark = graft.GraftSession(s"graft-${name.toLowerCase}")
      try body(spark, m) finally spark.stop()
    }
}

object KeyedConfig {
  /** camelCase segment → lower-case words (the reference splits key
    * paths the same way for CLI/env rendering).
    */
  private def words(segment: String): Seq[String] =
    segment.split("(?=[A-Z])").toSeq.map(_.toLowerCase)

  /** `api.maxQueuedHttpConnections` → `--api-max-queued-http-connections`
    * (reference CommandLineArguments::configKeyPathToString).
    */
  def cliName(key: String): String =
    "--" + key.split('.').toSeq.flatMap(words).mkString("-")

  /** `api.maxQueuedHttpConnections` → `GRAFT_API_MAX_QUEUED_HTTP_CONNECTIONS`
    * (reference EnvironmentVariables::configKeyPathToString, GRAFT_ for
    * SILO_).
    */
  def envName(key: String): String =
    "GRAFT_" + key.split('.').toSeq.flatMap(words).map(_.toUpperCase)
      .mkString("_")

  /** Flatten a parsed YAML document into dotted keys. */
  private def flattenYaml(node: Any, prefix: String = ""): Map[String, String] =
    node match {
      case m: java.util.Map[_, _] =>
        import scala.jdk.CollectionConverters._
        m.asScala.flatMap { case (k, v) =>
          flattenYaml(v, if (prefix.isEmpty) k.toString else s"$prefix.$k")
        }.toMap
      case null => Map.empty
      case v => Map(prefix -> v.toString)
    }
}
