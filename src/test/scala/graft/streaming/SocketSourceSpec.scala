package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Live-network source smoke: the T7/S12 envelope chain (parse → DLQ
  * split) and the ST5 cross-batch dedup consumed over a REAL TCP socket
  * — Spark's `socket` source fed by an in-process JDK server on
  * loopback. This is the closest this sandbox can get to a broker
  * (no kafka jars, zero egress): the transport is a genuine network
  * stream with its own connection lifecycle, and `format("kafka")`
  * remains a config swap on the same chain. Each streaming query opens
  * its OWN connection (exactly a topic with two consumer groups), so
  * the server serves every accepted client the full line set.
  *
  * Skips (not fails) when the sandbox forbids loopback sockets.
  */
class SocketSourceSpec extends SparkSpec {

  /** One JSON envelope line; every 13th event is invalid (unknown
    * event_type — the DLQ route), and ids repeat mod 150 (cross-batch
    * duplicates for the dedup leg).
    */
  private def line(i: Int): String = {
    val et = if (i % 13 == 0) "bogus_type" else Events.eventTypes(i % 9)
    val mm = f"${i / 60 % 60}%02d"
    val ss = f"${i % 60}%02d"
    s"""{"event_id":"e${i % 150}","user_id":$i,"session_id":"s${i / 10}",""" +
      s""""event_type":"$et","ts":"2026-01-01 00:$mm:$ss",""" +
      s""""user_tier":"t${i % 3}","properties":"{}"}"""
  }

  private val nLines = 200
  private lazy val lines = (0 until nLines).map(line)

  test("T7/S12/ST5 over a real TCP socket: parse, DLQ split, and dedup " +
    "match the batch twin") {
    val server =
      try {
        new java.net.ServerSocket(0, 50,
          java.net.InetAddress.getByName("127.0.0.1"))
      } catch {
        case e: Exception =>
          cancel(s"loopback sockets unavailable in this sandbox: ${e.getMessage}")
      }
    val port = server.getLocalPort
    val open = new java.util.concurrent.ConcurrentLinkedQueue[java.net.Socket]()
    @volatile var serving = true
    val acceptor = new Thread(() => {
      while (serving) {
        try {
          val sock = server.accept()
          open.add(sock)
          val w = new java.io.PrintWriter(
            new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8"))
          lines.foreach(w.println)
          w.flush() // connection stays open: EOF would end the source
        } catch { case _: Exception => () }
      }
    }, "socket-spec-server")
    acceptor.setDaemon(true)
    acceptor.start()

    val root = tempDir("graft-sock").toString
    import spark.implicits._
    def socketFrame() =
      try
        spark.readStream.format("socket")
          .option("host", "127.0.0.1").option("port", port).load()
      catch {
        case e: Exception =>
          cancel(s"socket source unavailable: ${e.getMessage}")
      }

    // consumer 1: parse → valid/DLQ split (one foreachBatch, two sinks)
    val q1 = Events.parse(socketFrame()).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        Events.valid(batch).write.mode("append").parquet(s"$root/valid")
        Events.invalid(batch).drop("dlq_ts")
          .write.mode("append").parquet(s"$root/dlq")
      }
      .option("checkpointLocation", s"$root/ckpt1").start()
    // consumer 2: parse → valid → cross-batch dedup (its own connection)
    val q2 = Events.deduped(Events.valid(Events.parse(socketFrame())))
      .writeStream.format("memory").queryName("sock_dedup")
      .option("checkpointLocation", s"$root/ckpt2").start()

    def countOf(dir: String): Long =
      try spark.read.parquet(dir).count() catch { case _: Exception => 0L }
    try {
      val nInvalid = lines.indices.count(_ % 13 == 0)
      val nValid = nLines - nInvalid
      val deadline = System.nanoTime() + 90L * 1000000000L
      def settled(): Boolean =
        countOf(s"$root/valid") >= nValid && countOf(s"$root/dlq") >= nInvalid &&
          spark.table("sock_dedup").count() >=
            (0 until nLines).filter(_ % 13 != 0).map(_ % 150).distinct.size
      while (!settled() && System.nanoTime() < deadline) {
        q1.processAllAvailable(); q2.processAllAvailable()
        Thread.sleep(200)
      }
      assert(settled(), s"socket delivery incomplete: valid=${countOf(s"$root/valid")} " +
        s"dlq=${countOf(s"$root/dlq")} dedup=${spark.table("sock_dedup").count()}")

      // batch twin: the same lines as a static frame through the SAME chain
      val staticParsed = Events.parse(lines.toDF("value"))
      val twinValid = Events.valid(staticParsed).toDF()
      val twinInvalid = Events.invalid(staticParsed).drop("dlq_ts")
      val gotValid = spark.read.parquet(s"$root/valid")
      val gotInvalid = spark.read.parquet(s"$root/dlq")
      assert(gotValid.count() === twinValid.count())
      assert(gotValid.except(twinValid).count() === 0L &&
        twinValid.except(gotValid).count() === 0L,
        "socket-delivered valid rows differ from the batch twin")
      assert(gotInvalid.count() === twinInvalid.count())
      assert(gotInvalid.except(twinInvalid).count() === 0L &&
        twinInvalid.except(gotInvalid).count() === 0L,
        "socket-delivered DLQ rows differ from the batch twin")
      // dedup leg: one row per distinct valid event_id, values matching
      // the batch twin's first-seen rows keyed by event_id
      val dedup = spark.table("sock_dedup")
      assert(dedup.groupBy("event_id").count().filter(col("count") > 1)
        .count() === 0L, "dedup emitted a duplicate event_id")
      assert(dedup.select("event_id").distinct().count() ===
        twinValid.select("event_id").distinct().count())
    } finally {
      serving = false
      try q1.stop() catch { case _: Exception => () }
      try q2.stop() catch { case _: Exception => () }
      open.forEach(s => try s.close() catch { case _: Exception => () })
      try server.close() catch { case _: Exception => () }
    }
  }
}
