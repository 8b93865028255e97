package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.Database
import graft.sources.NdjsonIngest

/** Incremental-append CLI — the analog of the reference's `rhydb append`
  * entry point (src/silo/append/append.cpp;
  * documentation/incremental_preprocessing.md): add NDJSON records to an
  * existing data directory WITHOUT a full preprocessing run, with the
  * same config layering as [[Serve]] (defaults < default-config file <
  * config file < env < CLI).
  *
  * {{{
  * graft.tools.Append --data-directory /data --append-file batch.ndjson
  * generate_data | graft.tools.Append --data-directory /data
  * }}}
  *
  * Semantics follow the reference:
  *  - the batch comes from `--append-file` (`.zst`/`.xz` decompress
  *    transparently) or STDIN when omitted
  *    (incremental_preprocessing.md `--append-file`);
  *  - the append is ATOMIC: the batch is validated in full — FAILFAST
  *    schema parse, batch-internal duplicate pks, and duplicate pks
  *    against ALL existing records — BEFORE anything is committed; any
  *    failure aborts with the existing state untouched
  *    (incremental_preprocessing.md: "If any record fails validation …
  *    the operation aborts and the existing state remains untouched");
  *  - on success the batch lands as the next `append-<seq>.ndjson` next
  *    to the original input (one atomic rename = the new data version),
  *    and a serving process ([[Serve]]) hot-swaps on its next
  *    fingerprint check — no restart, and the persisted posting indexes
  *    extend incrementally (Database classifies the unchanged-old-files
  *    + new-files shape as an index Append).
  */
object Append {

  /** The recognized dotted key paths (YAML form); `appendFile` matches
    * the reference's key spelling (SILO_APPEND_FILE / --append-file).
    */
  val Keys: Seq[String] = Seq(
    "dataDirectory", "appendFile", "runtimeConfig", "defaultRuntimeConfig")

  /** Broadcast the batch's pk column into the duplicate check only below
    * this row count — same rationale as the planner's
    * RouteBroadcastMaxRows (a forced hint is driver-size-blind).
    */
  private val BroadcastMaxRows = 1_000_000L

  // one runtime_config.yaml serves the whole deployment: the server's
  // api.*/query.*/maintenance.* keys are tolerated (skipped), like the
  // reference giving each subcommand its own view of a shared config
  private val config = new KeyedConfig(Keys,
    tolerate = Serve.Keys.toSet ++ Preprocess.Keys.toSet)

  def cliName(key: String): String = KeyedConfig.cliName(key)
  def envName(key: String): String = KeyedConfig.envName(key)
  def resolve(args: Seq[String], env: Map[String, String]): Map[String, String] =
    config.resolve(args, env)

  /** Run one append against the resolved settings. Returns the committed
    * file name and the appended row count, or ("", 0) for an empty
    * batch (nothing to commit). Throws — with NOTHING committed — on
    * any validation failure.
    */
  def run(spark: SparkSession, m: Map[String, String],
      stdin: () => java.io.InputStream = () => System.in): (String, Long) = {
    val dataDir = m.getOrElse("dataDirectory",
      sys.error("dataDirectory is required (--data-directory <dir>)"))
    val (schema, pk) = Database.inputSchema(spark, dataDir)

    // 1. materialize the batch OUTSIDE the data directory (stdin has to
    // be materialized anyway; a file source is copied so validation and
    // commit read one immutable snapshot)
    val srcName = m.get("appendFile")
    val suffix = srcName match {
      case Some(f) if f.endsWith(".zst") => ".ndjson.zst"
      case Some(f) if f.endsWith(".xz") => ".ndjson.xz"
      case _ => ".ndjson"
    }
    val tmp = java.nio.file.Files.createTempFile("graft-append", suffix)
    try {
      srcName match {
        case Some(f) =>
          java.nio.file.Files.copy(java.nio.file.Paths.get(f), tmp,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        case None =>
          val in = stdin()
          try java.nio.file.Files.copy(in, tmp,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          finally in.close()
      }

      // validation and commit run under an EXCLUSIVE cross-process lock:
      // without it two racing appends could each validate against the
      // pre-commit input, both pass, and both land files sharing a pk —
      // poisoning every later build with DuplicatePrimaryKey (the
      // reference's append is a single-writer CLI; the lock makes the
      // accidental two-writer case safe rather than corrupting)
      withLock(dataDir) {
        // 2. VALIDATE before any commit: FAILFAST schema parse (the read
        // mode aborts on malformed lines, ≙ table_inserter's per-record
        // validation), batch-internal duplicate pks and negative
        // sequence offsets, then duplicates
        // against every existing record — old keys must abort too
        // (duplicate_primary_key_exception.h; Database.build re-checks
        // the FULL input on every later build, so nothing unsound could
        // slip through even without this, but the reference aborts
        // BEFORE writing and so do we)
        val batch = NdjsonIngest.read(spark, tmp.toString, schema)
          .localCheckpoint() // parse once; reused by validate + count
        NdjsonIngest.validateIngest(batch, pk)
        val n = batch.count()
        val existing = NdjsonIngest.read(spark,
          Database.splitInputs(Serve.currentInput(dataDir)), schema)
        // the broadcast hint is size-gated like the planner's posting
        // semi-joins (RouteBroadcastMaxRows discipline): a bulk
        // incremental load's pk column would otherwise build an
        // unbounded hash relation on the driver and every executor —
        // above the cap Spark plans the semi-join itself (shuffled or
        // AQE-converted)
        val batchPks = batch.select(col(pk))
        val hinted =
          if (n <= BroadcastMaxRows) broadcast(batchPks) else batchPks
        val clash = existing
          .join(hinted, Seq(pk), "left_semi")
          .select(col(pk).cast("string")).limit(10)
          .collect().map(_.getString(0)).toSeq
        if (clash.nonEmpty) throw NdjsonIngest.DuplicatePrimaryKey(clash)
        if (n == 0) ("", 0L)
        else {
          // 3. COMMIT: stage inside the data directory (same
          // filesystem), then one atomic no-replace rename to the next
          // append-<seq> name; a failed rename never leaks the staged
          // copy
          val staged = java.nio.file.Files.createTempFile(
            java.nio.file.Paths.get(dataDir), ".append-staged", suffix)
          try {
            java.nio.file.Files.copy(tmp, staged,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            var seq = nextSeq(dataDir)
            var out: Option[String] = None
            while (out.isEmpty) {
              val target = java.nio.file.Paths.get(dataDir,
                f"append-$seq%06d$suffix")
              try {
                java.nio.file.Files.move(staged, target,
                  java.nio.file.StandardCopyOption.ATOMIC_MOVE)
                out = Some(target.getFileName.toString)
              } catch {
                case _: java.nio.file.FileAlreadyExistsException => seq += 1
              }
            }
            (out.get, n)
          } finally java.nio.file.Files.deleteIfExists(staged)
        }
      }
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  /** Exclusive cross-process lock on `<dataDir>/.append.lock` held for
    * the whole validate-then-commit window (FileChannel.lock — advisory,
    * but every appender goes through this code path).
    */
  private def withLock[T](dataDir: String)(body: => T): T = {
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(dataDir, ".append.lock"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val lock = ch.lock()
      try body finally lock.release()
    } finally ch.close()
  }

  private def nextSeq(dataDir: String): Long = {
    val pat = "append-(\\d+)\\.ndjson(\\.zst|\\.xz)?".r
    Option(new java.io.File(dataDir).list()).getOrElse(Array())
      .collect { case pat(d, _) => d.toLong }
      .maxOption.getOrElse(0L) + 1
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("--help")) {
      println("graft.tools.Append — append NDJSON records to a data directory")
      println(Keys.map(k => f"  ${cliName(k)}%-30s ${envName(k)}").mkString("\n"))
      return
    }
    val m = resolve(args.toSeq, sys.env)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .appName("graft-append")
      .getOrCreate()
    try {
      val (file, n) = run(spark, m)
      if (n == 0) println("[append] empty batch — nothing committed")
      else println(s"[append] committed $n records as $file")
    } finally spark.stop()
  }
}
