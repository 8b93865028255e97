package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** One answered request as the client saw it. */
final case class Resp(status: Int, version: String, contentType: String,
    body: Array[Byte], ttfbNs: Long, totalNs: Long)

/** The HTTP client side: POST /query over NDJSON or Arrow. */
object Http {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  val ArrowType = "application/vnd.apache.arrow.stream"

  /** Time to response headers (the server sends them only after the first
    * batch) and to the last body byte.
    */
  def post(port: Int, query: String, arrow: Boolean = false,
      timeoutS: Int = 120): Resp = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/query"))
      .timeout(Duration.ofSeconds(timeoutS))
      .POST(HttpRequest.BodyPublishers.ofString(query))
    if (arrow) b.header("Accept", ArrowType)
    val t0 = System.nanoTime()
    val r = client.send(b.build(), HttpResponse.BodyHandlers.ofInputStream())
    val t1 = System.nanoTime()
    val body = try r.body().readAllBytes() finally r.body().close()
    val t2 = System.nanoTime()
    Resp(r.statusCode(), r.headers().firstValue("data-version").orElse(""),
      r.headers().firstValue("Content-Type").orElse(""), body, t1 - t0, t2 - t0)
  }

  def get(port: Int, path: String): Resp = {
    val t0 = System.nanoTime()
    val r = client.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    val t1 = System.nanoTime()
    Resp(r.statusCode(), r.headers().firstValue("data-version").orElse(""),
      r.headers().firstValue("Content-Type").orElse(""), r.body(), t1 - t0, t1 - t0)
  }
}

/** Decodes answers and compares them with the generator's truth. Rows are
  * maps from column to a normalized value: null, String or Double.
  */
object Check {
  type Row = Map[String, Any]
  val mapper = new ObjectMapper()
  private val allocator = new org.apache.arrow.memory.RootAllocator()

  /** Columns compared with a tolerance instead of exactly: graft rounds
    * proportions half-up on the double, the generator on the decimal.
    */
  private val Tolerance = Map("proportion" -> 1.5e-4)

  def value(n: JsonNode): Any =
    if (n == null || n.isNull) null
    else if (n.isNumber) n.asDouble()
    else n.asText()

  def row(n: JsonNode): Row =
    n.fields().asScala.map(e => e.getKey -> value(e.getValue)).toMap

  def ndjsonRows(body: Array[Byte]): Seq[Row] =
    new String(body, "UTF-8").split("\n").iterator.filter(_.nonEmpty)
      .map(l => row(mapper.readTree(l))).toSeq

  def arrowRows(body: Array[Byte]): Seq[Row] = {
    import org.apache.arrow.vector._
    val alloc = allocator.newChildAllocator("decode", 0, Long.MaxValue)
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(body), alloc)
    try {
      val root = reader.getVectorSchemaRoot
      val out = Seq.newBuilder[Row]
      while (reader.loadNextBatch()) {
        val vs = root.getFieldVectors.asScala.toSeq
        (0 until root.getRowCount).foreach { i =>
          out += vs.map { v =>
            val x: Any =
              if (v.isNull(i)) null
              else v match {
                case d: DateDayVector => java.time.LocalDate.ofEpochDay(d.get(i)).toString
                case o => o.getObject(i) match {
                  case n: java.lang.Number => n.doubleValue()
                  case t => t.toString
                }
              }
            v.getName -> x
          }.toMap
        }
      }
      out.result()
    } finally { reader.close(); alloc.close() }
  }

  def rows(r: Resp): Seq[Row] =
    if (r.contentType.startsWith(Http.ArrowType)) arrowRows(r.body)
    else ndjsonRows(r.body)

  private def key(r: Row): String =
    r.toSeq.filterNot { case (k, _) => Tolerance.contains(k) || k == "_optional" }
      .sortBy(_._1).map { case (k, v) =>
        k + "=" + (v match {
          case null => "null"
          case d: Double if d == math.rint(d) && math.abs(d) < 1e15 => d.toLong.toString
          case d: Double => d.toString
          case s => "'" + s + "'"
        })
      }.mkString(",")

  /** None when `actual` equals the expected rows as a multiset (rows
    * flagged `_optional` may be absent), else the first difference.
    */
  def compare(expected: JsonNode, actual: Seq[Row]): Option[String] = {
    val exp = expected.elements().asScala.map(row).toSeq
    val byKey = scala.collection.mutable.HashMap.empty[String, List[Row]]
    exp.foreach(e => byKey(key(e)) = e :: byKey.getOrElse(key(e), Nil))
    val it = actual.iterator
    while (it.hasNext) {
      val a = it.next()
      if (a.contains("__streamError")) return Some(s"stream error: ${a("__streamError")}")
      val k = key(a)
      byKey.get(k) match {
        case Some(e :: rest) =>
          val bad = Tolerance.find { case (c, tol) =>
            (e.get(c), a.get(c)) match {
              case (Some(x: Double), Some(y: Double)) => math.abs(x - y) > tol
              case (x, y) => x != y
            }
          }
          if (bad.nonEmpty) return Some(s"value mismatch on $k: expected $e, got $a")
          if (rest.isEmpty) byKey.remove(k) else byKey(k) = rest
        case _ => return Some(s"unexpected row $k")
      }
    }
    byKey.values.flatten.find(_.get("_optional") != Some("true")).map(e =>
      s"missing row ${key(e)}")
  }
}
