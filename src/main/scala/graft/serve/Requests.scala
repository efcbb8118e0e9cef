package graft.serve

import com.fasterxml.jackson.databind.JsonNode

/** The request readers every route shares: plain functions over the body
  * [[WidgetServer]] decoded once. Each rejects a bad value with an
  * IllegalArgumentException, which the server answers with a 400 whose
  * message names the route (`what`) and the member (`key`). A `key` may be
  * a dotted path into a nested object (`"rescore.window"`).
  */
object Requests {

  /** The response page budget: the most rows any size/k/window parameter
    * may ask for. Every driver collect is bounded by it; a deeper result
    * set pages (`search_after`) instead of streaming down one body.
    */
  val PageBudget = 1000

  private def at(o: JsonNode, key: String): JsonNode =
    key.split('.').foldLeft(o)(_.path(_))

  /** A required, non-empty text member. */
  def text(o: JsonNode, key: String, what: String): String = {
    val v = at(o, key).asText("")
    require(v.nonEmpty, s"$what: missing $key")
    v
  }

  /** A size/k/window member, `default` when absent, within 1..[[PageBudget]]. */
  def page(o: JsonNode, key: String, default: Int, what: String): Int = {
    val n = at(o, key).asInt(default)
    require(n >= 1 && n <= PageBudget,
      s"$what: $key must be 1..$PageBudget (the page budget), got $n")
    n
  }

  /** A text member that must be one of `options`; absent reads the first. */
  def choice(o: JsonNode, key: String, what: String, options: String*): String = {
    val v = at(o, key).asText(options.head)
    require(options.contains(v), s"$what: $key must be ${options.mkString("|")}, got '$v'")
    v
  }

  /** Reject each of `keys` present alongside `other`: they do not compose,
    * and `instead` says where they do.
    */
  def rejectWith(o: JsonNode, keys: Seq[String], other: String, what: String, instead: String): Unit =
    keys.foreach { k =>
      require(!o.hasNonNull(k), s"$what: $k does not compose with $other — $instead")
    }
}
