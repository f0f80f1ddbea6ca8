package perfbench

object Checks {
  /** Problems found comparing an operation's output with the expected
    * map; at most three examples are named. */
  def diff[K, V](what: String, got: Map[K, V], want: Map[K, V],
      same: (V, V) => Boolean = (a: V, b: V) => a == b): Seq[String] = {
    val bad = (got.keySet ++ want.keySet).iterator.filter { k =>
      (got.get(k), want.get(k)) match {
        case (Some(a), Some(b)) => !same(a, b)
        case _ => true
      }
    }.toSeq
    if (bad.isEmpty) Nil
    else Seq(s"$what: ${bad.size} mismatches of ${want.size}, e.g. " +
      bad.take(3).map(k => s"$k got ${got.get(k)} want ${want.get(k)}").mkString(", "))
  }
}
