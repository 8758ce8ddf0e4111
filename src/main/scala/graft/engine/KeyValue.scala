package graft.engine

/** The reference engine's sole record type: an unordered bag of string
  * key/value pairs (reference `mr/types.go:25-28`). Numbers travel as
  * decimal strings, matching the reference plugins
  * (`plugins/wc.go:31,42`).
  */
final case class KeyValue(key: String, value: String)

/** A MapReduce application — the reference's plugin contract
  * (`mr_worker.go:26-43`, `mr/types.go:56-59`):
  * `Map(filename, contents) []KeyValue` and
  * `Reduce(key, values []string) string`.
  *
  * Reducers MUST be order-insensitive in `values`: the reference sorts
  * only by key with a non-stable sort (`mr/worker.go:58`), so value
  * order is unspecified there, exactly as it is for Spark's grouped
  * iterators. Apps that need an order sort inside `reduce` (as the
  * reference's indexer does at `plugins/indexer.go:39`).
  */
trait MrApp extends Serializable {
  def map(file: String, contents: String): Seq[KeyValue]
  def reduce(key: String, values: Seq[String]): String
}

/** The MapReduce paper's combiner (§4.3): a partial reduce the engine
  * runs per key on each map call's output, before the shuffle. Law, for
  * any split of a key's values into `parts`:
  * `reduce(k, parts.map(combine(k, _))) == reduce(k, parts.flatten)`. */
trait Combiner extends MrApp {
  def combine(key: String, values: Seq[String]): String
}
