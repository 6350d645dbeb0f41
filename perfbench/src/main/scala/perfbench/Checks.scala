package perfbench

import graft.streaming.ServingStore

/** Output checks against the generator's reference counters. */
object Checks {
  /** Number of keys whose resolved counter differs from the reference
    * (missing, extra, or a different count or sum).
    */
  def counters(rows: Seq[ServingStore.CounterRow], ref: collection.Map[String, (Long, Long)]): Int = {
    val got = rows.map(r => r.key -> r).toMap
    val missing = ref.keys.count(k => !got.contains(k))
    val extra = got.keys.count(k => !ref.contains(k))
    val differ = ref.count { case (k, (n, cents)) =>
      got.get(k).exists(r => r.nEvents != n || r.sumValue != cents / 100.0)
    }
    missing + extra + differ
  }

  /** Whether an HTTP answer for `path` matches the reference counters. */
  def answer(path: String, body: com.fasterxml.jackson.databind.JsonNode,
      ref: collection.Map[String, (Long, Long)]): Boolean = {
    val prefix = path.takeWhile(_ != '?')
    val rows = ref.filter { case (k, (n, _)) => k.startsWith(prefix) && n != 0 }
    if (path.endsWith("?agg=sum")) {
      if (rows.isEmpty) body.path("n_events").isNull && body.path("n_keys").asInt == 0
      else {
        val n = rows.values.map(_._1).sum
        val v = rows.values.map(_._2).sum / 100.0
        body.path("n_events").asLong == n && body.path("n_keys").asInt == rows.size &&
          math.abs(body.path("sum_value").asDouble - v) <= 1e-9 * math.max(1.0, math.abs(v))
      }
    } else body.size == rows.size && rows.forall { case (k, (n, cents)) =>
      val node = body.path(k)
      node.path("n_events").asLong == n && node.path("sum_value").asDouble == cents / 100.0
    }
  }
}
