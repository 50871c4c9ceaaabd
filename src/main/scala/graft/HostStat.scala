package graft

/** Host-state counters (and the JSON string escape) for
  * self-attributing measurement artifacts.
  *
  * The round-12/14 lesson, generalized from SinkBench: a recorded
  * wall time on a shared host is evidence only when it carries the
  * host state it was taken under. CPU steal is the discriminator this
  * box actually exhibits — an isolated regression on a steal-quiet
  * run (delta ≈ 0) is a plan defect, the same numbers under a steal
  * burst are the host — so every bench/audit artifact embeds the
  * steal-tick delta over its own run (and per timed section where the
  * artifact records per-section walls).
  */
object HostStat {

  /** Cumulative host CPU-steal ticks (/proc/stat `cpu` line, field 8)
    * — None off Linux or on an unreadable /proc. */
  def readStealTicks(): Option[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong)
      finally src.close()
    } catch { case _: Throwable => None }

  /** Delta helper: ticks elapsed between two snapshots, JSON-ready
    * ("null" when either side was unreadable). */
  def deltaJson(start: Option[Long], end: Option[Long]): String =
    (for { a <- start; b <- end } yield b - a)
      .map(_.toString).getOrElse("null")

  /** JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in builder-authored SQL or an
    * exception message would otherwise make a reader's json.load fail
    * and silently drop the artifact. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
