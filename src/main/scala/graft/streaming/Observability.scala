package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

/** Control-plane parity with the reference (SURVEY.md §2 O2/O3):
  *
  *  - O3 — the reference exposes Prometheus counters in_messages/out_messages
  *    (server.go:42-49, 90-91, 370-375). Here the same counters are fed from
  *    StreamingQueryProgress (numInputRows / sink numOutputRows) per query;
  *    [[snapshot]] returns them for scraping by whatever metrics bridge the
  *    deployment uses.
  *  - O2 — the reference dies if no message arrives within one windowSize (a
  *    KAFKA-3593 workaround, server.go:51-52, 384-388). Spark's source does
  *    not need the workaround; [[stalledQueries]] reports RUNNING queries
  *    whose last progress is older than the threshold so the operator can
  *    alert or restart instead of hard-killing the process. Terminated
  *    queries keep their counters for scraping but are never "stalled".
  *
  * Internally keyed by query id (names are optional and may be null). The
  * service runs its whole rule config as one query, so `/metrics` carries
  * one `query` label for it — like the reference's two unlabelled counters;
  * per-rule counts are not exported.
  */
class Observability(maxSilenceMs: Long) extends StreamingQueryListener {

  final case class Counters(displayName: String, inRows: AtomicLong,
      outRows: AtomicLong, lastProgressMs: AtomicLong, terminated: AtomicBoolean)

  private val byQuery = new ConcurrentHashMap[String, Counters]()

  private def counters(id: String, name: String): Counters =
    byQuery.computeIfAbsent(id, _ =>
      Counters(Option(name).getOrElse(id), new AtomicLong(0), new AtomicLong(0),
        new AtomicLong(System.currentTimeMillis()), new AtomicBoolean(false)))

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    // a restart from the same checkpoint reuses the query id — revive the
    // entry or the watchdog would ignore the restarted query forever
    val c = counters(e.id.toString, e.name)
    c.terminated.set(false)
    c.lastProgressMs.set(System.currentTimeMillis())
  }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val c = counters(e.progress.id.toString, e.progress.name)
    c.inRows.addAndGet(e.progress.numInputRows)
    Option(e.progress.sink).foreach(s => c.outRows.addAndGet(math.max(s.numOutputRows, 0)))
    c.lastProgressMs.set(System.currentTimeMillis())
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    Option(byQuery.get(e.id.toString)).foreach(_.terminated.set(true))

  /** (query → (in_messages, out_messages)) — the reference's two counters.
    * Multiple incarnations sharing a name (e.g. restarted with a fresh
    * checkpoint) accumulate into one entry. */
  def snapshot: Map[String, (Long, Long)] = {
    val b = Seq.newBuilder[(String, (Long, Long))]
    byQuery.forEach((_, c) => b += c.displayName -> (c.inRows.get() -> c.outRows.get()))
    b.result().groupBy(_._1).view.mapValues { vs =>
      (vs.map(_._2._1).sum, vs.map(_._2._2).sum)
    }.toMap
  }

  /** Running queries with no progress within maxSilenceMs (O2 watchdog). */
  def stalledQueries(nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    val b = Seq.newBuilder[String]
    byQuery.forEach { (_, c) =>
      if (!c.terminated.get() && nowMs - c.lastProgressMs.get() > maxSilenceMs)
        b += c.displayName
    }
    b.result().distinct
  }

  /** Prometheus text exposition (format 0.0.4) of [[snapshot]] — the same
    * two counters the reference serves on /metrics (server.go:42-49,
    * 370-375), namespaced `graft_` and labeled per query. Label values are
    * escaped per the exposition spec (backslash, quote, newline). */
  def prometheusText: String = {
    def esc(s: String): String =
      s.flatMap {
        case '\\' => "\\\\"
        case '"'  => "\\\""
        case '\n' => "\\n"
        case c    => c.toString
      }
    val snap = snapshot.toSeq.sortBy(_._1)
    val sb = new StringBuilder
    sb ++= "# HELP graft_in_messages_total Messages consumed per query\n"
    sb ++= "# TYPE graft_in_messages_total counter\n"
    snap.foreach { case (n, (in, _)) =>
      sb ++= s"""graft_in_messages_total{query="${esc(n)}"} $in""" += '\n'
    }
    sb ++= "# HELP graft_out_messages_total Aggregated metrics produced per query\n"
    sb ++= "# TYPE graft_out_messages_total counter\n"
    snap.foreach { case (n, (_, out)) =>
      sb ++= s"""graft_out_messages_total{query="${esc(n)}"} $out""" += '\n'
    }
    sb.result()
  }

  @volatile private var httpServer: Option[com.sun.net.httpserver.HttpServer] = None

  /** Serve [[prometheusText]] on `http://host:port/metrics` — ops-plane
    * parity with the reference's promhttp endpoint (server.go:370-375).
    * Port 0 picks a free port; the bound port is returned. JDK-built-in
    * httpserver: zero extra dependencies, a scrape is one short-lived
    * connection — plenty for a per-driver metrics endpoint. */
  def serveMetrics(port: Int = 0): Int = synchronized {
    require(httpServer.isEmpty, "metrics endpoint already serving")
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(port), 0)
    srv.createContext("/metrics", (exchange: com.sun.net.httpserver.HttpExchange) => {
      val body = prometheusText.getBytes("UTF-8")
      exchange.getResponseHeaders.set("Content-Type",
        "text/plain; version=0.0.4; charset=utf-8")
      exchange.sendResponseHeaders(200, body.length)
      val os = exchange.getResponseBody
      try os.write(body) finally os.close()
    })
    srv.setExecutor(null) // current-thread dispatch: scrape traffic is tiny
    srv.start()
    httpServer = Some(srv)
    srv.getAddress.getPort
  }

  /** Stop the /metrics endpoint (no-op when not serving). */
  def stopMetrics(): Unit = synchronized {
    httpServer.foreach(_.stop(0))
    httpServer = None
  }
}

object Observability {
  /** Attach to a session; silence threshold defaults to one window
    * (the reference's watchdog interval). */
  def attach(spark: SparkSession, windowSizeSec: Long): Observability = {
    val o = new Observability(windowSizeSec * 1000)
    spark.streams.addListener(o)
    o
  }
}
