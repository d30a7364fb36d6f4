package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

final case class Resp(status: Int, body: Array[Byte]) {
  def ok: Boolean = status >= 200 && status < 300
  def text: String = new String(body, java.nio.charset.StandardCharsets.UTF_8)
}

/** Blocking HTTP/1.1 client for the gateway under test. */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  private def uri(path: String) = new URI(s"http://127.0.0.1:$port$path")

  private def send(b: HttpRequest.Builder, headers: Seq[(String, String)]): Resp = {
    headers.foreach { case (k, v) => b.header(k, v) }
    val r = http.send(b.timeout(Duration.ofSeconds(60)).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    Resp(r.statusCode(), r.body())
  }
  def get(path: String): Resp = send(HttpRequest.newBuilder(uri(path)).GET(), Nil)
  def post(path: String, body: Array[Byte], headers: Seq[(String, String)]): Resp =
    send(HttpRequest.newBuilder(uri(path))
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)), headers)
}

/** One timed operation. Times are `System.nanoTime` values; `dueNs` is
  * when the operation should have started (the schedule slot for open
  * loop, the send time for closed loop). `ok` means a 2xx answer whose
  * output passed its check; anything else is a failure and is never
  * counted as a latency sample.
  */
final case class Op(
    kind: String, name: String, dueNs: Long, startNs: Long, endNs: Long,
    status: Int, ok: Boolean, samples: Long, error: String, tag: String = "")

/** Outcome of one operation body: status, whether its output checked,
  * samples it carried, and an error note.
  */
final case class Outcome(status: Int, ok: Boolean, samples: Long = 0, error: String = "")

object Outcome {
  /** Runs `body`; an exception becomes a failed outcome (status -1). */
  def guard(body: => Outcome): Outcome =
    try body
    catch { case e: Throwable => Outcome(-1, ok = false, error = String.valueOf(e)) }

  /** 2xx plus a passing check; otherwise a failure naming the cause. */
  def checked(r: Resp, samples: Long)(check: Resp => Option[String]): Outcome =
    if (!r.ok) Outcome(r.status, ok = false, samples,
      s"status ${r.status}: ${r.text.take(160)}")
    else check(r) match {
      case None => Outcome(r.status, ok = true, samples)
      case Some(why) => Outcome(r.status, ok = false, samples, s"check: $why")
    }
}

/** Open-loop load: each task is due at a fixed offset from `startNs`
  * whatever happened before it. A dispatcher hands due tasks to at most
  * `connections` senders; a task that waits for a free sender keeps its
  * due time, so a stall shows in the latency of every task queued
  * behind it. `lateNs` records how late the dispatcher itself woke.
  */
final class OpenLoop(connections: Int) {
  val lateNs = new ConcurrentLinkedQueue[java.lang.Long]()

  def run[T](startNs: Long, schedule: Seq[(Long, T)])(send: T => Outcome)(
      record: (T, Long, Long, Long, Outcome) => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(connections)
    try {
      schedule.sortBy(_._1).foreach { case (offsetNs, task) =>
        val due = startNs + offsetNs
        var now = System.nanoTime()
        while (now < due) {
          val waitNs = due - now
          TimeUnit.NANOSECONDS.sleep(math.min(waitNs, 50000000L))
          now = System.nanoTime()
        }
        lateNs.add(now - due)
        pool.execute(() => {
          val s = System.nanoTime()
          val out = Outcome.guard(send(task))
          record(task, due, s, System.nanoTime(), out)
        })
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(170, TimeUnit.SECONDS)
    }
  }
}

/** Closed-loop clients: each of `clients` threads issues its next
  * operation as soon as the previous one answers, until `endNs` or
  * until `next` has nothing more for it.
  */
object ClosedLoop {
  def run(clients: Int, endNs: Long)(next: (Int, Int) => Option[(String, () => Outcome)])(
      record: (String, Long, Long, Outcome) => Unit): Unit = {
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var i = 0
        var more = true
        while (more && System.nanoTime() < endNs) next(c, i) match {
          case Some((name, op)) =>
            val s = System.nanoTime()
            val out = Outcome.guard(op())
            record(name, s, System.nanoTime(), out)
            i += 1
          case None => more = false
        }
      }, s"perfbench-client-$c")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join(175000))
  }
}

/** Thread-safe op log. */
final class OpLog {
  private val q = new ConcurrentLinkedQueue[Op]()
  def add(o: Op): Unit = q.add(o)
  def all: Seq[Op] = q.asScala.toSeq.sortBy(_.dueNs)
}
