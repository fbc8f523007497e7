package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** Raw measurement log of one run. Every line is tab-separated with the
  * record kind first; `run.py` turns the lines into metrics, so all the
  * arithmetic (medians, interval unions, self times) lives on one side and is
  * unit-tested there. Times are epoch nanoseconds from one monotonic base,
  * so they line up with the Spark listener's epoch-millisecond stamps. */
object Record {
  private val lines = new ConcurrentLinkedQueue[String]()
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L

  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)

  private def clean(s: String): String = s.replaceAll("[\t\r\n]", " ")

  def add(fields: Any*): Unit =
    lines.add(fields.map(f => clean(String.valueOf(f))).mkString("\t"))

  private val verbose = sys.env.contains("PERFBENCH_VERBOSE")

  /** One timed operation of `series` (e.g. `refresh`, `face.f11_winsorize`). */
  def sample(series: String, t0: Long, t1: Long, ok: Boolean): Unit = {
    add("sample", series, t0, t1, if (ok) 1 else 0)
    if (verbose)
      System.err.println(f"perfbench: $series ${(t1 - t0) / 1e9}%.3f s${if (ok) "" else " FAILED"}")
  }

  def value(name: String, v: Double): Unit = add("value", name, v)

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    add("check", name, if (ok) 1 else 0, detail)
    if (!ok) System.err.println(s"CHECK FAILED $name: $detail")
  }

  /** Start/end of the timed region; everything the metrics call "per op"
    * is taken between these two marks. */
  def mark(name: String): Unit = add("mark", name, now())

  def write(path: String): Unit = {
    val sb = new StringBuilder
    lines.forEach(l => sb.append(l).append('\n'))
    Files.write(Paths.get(path), sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

/** Span recorder for the traced run: a span is one call from the
  * benchmark into a module, kept in memory with its parent (per-thread
  * stack) and written with the run's records when it ends. Disabled, a
  * span is just the call. */
object Trace {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = Record.now()
      try body
      finally {
        val t1 = Record.now()
        stack.set(stack.get.tail)
        Record.add("span", id, parent, name, t0, t1)
      }
    }
}

/** Times `body` as one sample of `series`; a throw marks the sample
  * failed and propagates. */
object Timed {
  def apply[T](series: String)(body: => T): T = {
    val t0 = Record.now()
    var ok = false
    try { val r = body; ok = true; r }
    finally Record.sample(series, t0, Record.now(), ok)
  }
}
