package graft

/** The `SPARK_GRAFT_ONLY` query filter shared by the [[Verify]] and
  * [[Bench]] mains: a comma-separated list of query-name prefixes
  * (`q39,q40` selects `q39_…` and `q40_…`). Unset keeps every query. A
  * blank filter, or an entry that matches no query, is an error, so a
  * typo can never verify or time less than it names. */
object QueryFilter {
  def apply[A](queries: Seq[(String, A)], spec: Option[String]): Seq[(String, A)] =
    spec.fold(queries) { s =>
      val prefixes = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(prefixes.nonEmpty, s"SPARK_GRAFT_ONLY='$s' names no query")
      val unmatched = prefixes.filterNot(p => queries.exists(_._1.startsWith(p)))
      require(unmatched.isEmpty,
        s"SPARK_GRAFT_ONLY entries match no query: ${unmatched.mkString(", ")}")
      queries.filter { case (name, _) => prefixes.exists(name.startsWith) }
    }
}
