package graft.perfbench

/** One named measurement with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What one workload run produced: operation counts, the end-to-end
  * and per-layer metrics, and whatever the output checks found wrong.
  */
final case class Outcome(attempted: Long, failed: Long,
    problems: Seq[String], endToEnd: Seq[Metric], layers: Seq[Metric],
    inputs: Seq[(String, Long)], fingerprint: String, samples: Seq[Double])

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** Full-precision, locale-independent number; non-finite values are
    * refused rather than written as invalid JSON.
    */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  }

  def metrics(ms: Seq[Metric]): String = ms.map(m =>
    s"${str(m.name)}:{\"value\":${num(m.value)},\"unit\":${str(m.unit)}}")
    .mkString("{", ",", "}")
}

/** Phase timings on standard error, for diagnosing a slow run. */
object Log {
  def time[T](label: String)(f: => T): T = {
    val (r, s) = Stats.seconds(f)
    System.err.println(f"graftbench: $label%s ${s}%.3f s")
    r
  }
}

/** What the host did to the run, from the kernel's CPU accounting. */
object Host {
  /** Total and stolen jiffies of all CPUs, from the `cpu` line of
    * `/proc/stat`, where the kernel has one.
    */
  private def cpuTimes(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
      (v.sum, v(7))
    } finally src.close()
  }.toOption

  /** `f`'s result, and the share of all CPU time the hypervisor gave to
    * other guests (steal) while `f` ran. A run that saw much steal ran
    * on a contended host, and its timings read slow.
    */
  def stealShare[T](f: => T): (T, Option[Double]) = {
    val a = cpuTimes()
    val r = f
    val b = cpuTimes()
    (r, for ((t0, s0) <- a; (t1, s1) <- b if t1 > t0)
      yield (s1 - s0).toDouble / (t1 - t0))
  }
}
