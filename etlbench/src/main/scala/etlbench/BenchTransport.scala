package etlbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import graft.io.Sources.{RestRequest, Transport}
import org.apache.spark.TaskContext

/** The REST server the pipelines extract from, in process.
  *
  * It serves the generated payloads by path, checks that the pipelines
  * push the S2 order/limit and S4 `expand[]` parameters (failing loudly
  * like PipelinesSpec's fixtures), waits a fixed service time per
  * request, and fails the first attempt of a seeded set of report
  * requests. Executors run inside the driver JVM (local mode), so the
  * payloads and counters live in [[BenchTransport.state]] and the
  * serialized transport carries nothing but its service time.
  */
final class BenchTransport(serviceNanos: Long) extends Transport {
  import BenchTransport._

  def apply(req: RestRequest): String = {
    val t0 = System.nanoTime()
    val s = state
    try {
      if (s.counting) counters.requests.incrementAndGet()
      LockSupport.parkNanos(serviceNanos)
      val body = s.route(req)
      if (s.counting) {
        counters.bytes.addAndGet(body.length.toLong) // payloads are ASCII
        if (!isEmptyPayload(body)) counters.useful.incrementAndGet()
      }
      body
    } finally if (s.counting) {
      val dt = System.nanoTime() - t0
      if (TaskContext.get() == null) counters.driverNanos.addAndGet(dt)
      else counters.executorNanos.addAndGet(dt)
    }
  }
}

object BenchTransport {

  final class Counters {
    val requests, bytes, useful, retries, driverNanos, executorNanos = new AtomicLong
  }
  val counters = new Counters

  /** What the server serves: a routing function from request to body. */
  abstract class Server {
    @volatile var counting = false
    def route(req: RestRequest): String
  }

  @volatile var state: Server = new Server {
    def route(req: RestRequest): String = throw new IllegalStateException("no server installed")
  }

  private def isEmptyPayload(body: String): Boolean = {
    val i = body.indexOf('[')
    i < 0 || { var j = i + 1; while (j < body.length && body.charAt(j).isWhitespace) j += 1; j < body.length && body.charAt(j) == ']' }
  }

  /** Fails the first attempt of each key in `failing`, once per
    * iteration ([[reset]] re-arms it); counts the retries it forces.
    */
  final class FirstAttemptFailures(failing: Set[Long]) {
    private val seen = ConcurrentHashMap.newKeySet[Long]()
    def reset(): Unit = seen.clear()
    def check(key: Long): Unit =
      if (failing(key) && seen.add(key)) {
        counters.retries.incrementAndGet()
        throw new RuntimeException(s"injected transient failure for key $key")
      }
  }
}
