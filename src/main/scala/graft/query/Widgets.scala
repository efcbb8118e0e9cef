package graft.query

import graft.schema.VarType
import org.apache.spark.sql.{Column, DataFrame}

/** Dictionary-driven query construction — the engine-level restatement of the
  * webapp's data-driven filter UI (SURVEY.md §3.2 steps 2-4):
  *
  *   1. the dictionary fetch types every field via `dict_vartype` and keeps
  *      only `dict_uifilter == 'True'` fields (`collections.js:60-129`,
  *      `views.js:582`);
  *   2. each field's type decides its widget and therefore its predicate
  *      form (`models.js:18-70`, `views.js:454-466`);
  *   3. the user's selections compile to one conjunction
  *      (`generateQuery`, `collections.js:146-208`) plus a display string
  *      (`generateQueryDisplayText`, `:209-257`).
  *
  * The dictionary is what makes this data-driven: nothing here hardcodes a
  * field list — point it at any profiled dataset and the query surface
  * follows the data.
  */
object Widgets {

  /** One filterable field, typed by the dictionary. */
  final case class Field(name: String, varType: VarType, group: String, descr: String)

  /** A user selection on one field — mirrors the widget value states
    * (`models.js:44-69`). Validation against the field's vartype happens at
    * compile time ([[FieldCollection.select]]).
    */
  sealed trait Selection
  object Selection {
    final case class RangeSel(lo: Double, hi: Double) extends Selection
    final case class EnumSel(values: Seq[String]) extends Selection
    final case class BoolSel(value: Int) extends Selection
    final case class TimeSel(fromMillis: Long, toMillis: Long) extends Selection
    final case class TextSel(query: String) extends Selection
  }

  /** The filterable fields of a dictionary: `dict_uifilter == 'True'`
    * (string compare — the reference's Python-bool quirk), typed by
    * `dict_vartype`, projected like the webapp's `_source` list (Q8).
    */
  def fieldsFromDictionary(dict: DataFrame): FieldCollection = {
    val rows = dict
      .where(dict.col("dict_uifilter") === "True")
      .select("dict_field", "dict_vartype", "dict_vargroup", "dict_vardescr")
      .collect()
      .map(r => Field(r.getString(0), VarType.parse(r.getString(1)), r.getString(2), r.getString(3)))
    FieldCollection(rows.toSeq, Map.empty)
  }

  /** Decode the webapp's widget-state JSON into selections on `fields` —
    * the wire format of the filter UI (one element per widget, the
    * Backbone `Field` attributes: `models.js:18-43`, serialized state as
    * `generateQuery` reads it, `collections.js:146-208`):
    *
    * {{{
    * [{"name": "l_quantity", "type": "range,0,55,1", "value": [10, 20],
    *   "enabled": {"state": true, "lastEnabled": 1}}, ...]
    * }}}
    *
    * Mirrors `enabledValueFields` + `generateQuery` exactly: an element is
    * a selection only when `enabled.state === true` and its value is
    * non-null and non-empty-array; everything else is a widget at rest and
    * contributes nothing. The field's DICTIONARY type (not the element's
    * `type` echo) decides the value's parse — range/datetime read
    * `[lo, hi]`, enum reads a string array, boolean reads `0|1`, text
    * reads a string — and [[FieldCollection.select]] then re-validates,
    * so a state blob that contradicts the dictionary fails fast instead
    * of compiling nonsense. Unknown field names fail like any `select`.
    */
  def fromJson(fields: FieldCollection, json: String): FieldCollection =
    fromJson(fields, graft.Json.read(json))

  /** [[fromJson]] over an already-decoded state. */
  def fromJson(fields: FieldCollection, root: com.fasterxml.jackson.databind.JsonNode): FieldCollection = {
    require(root.isArray, s"widget state must be a JSON array, got: ${root.getNodeType}")
    var fc = fields
    val it = root.elements()
    while (it.hasNext) {
      val el = it.next()
      val enabled = el.path("enabled").path("state").asBoolean(false)
      val value = el.path("value")
      val skip = !enabled || value.isMissingNode || value.isNull ||
        (value.isArray && value.isEmpty)
      if (!skip) {
        val name = el.path("name").asText()
        val f = fc.fields.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(s"unknown or unfilterable field '$name'"))
        def requireBounds(): Unit =
          require(value.isArray && value.size >= 2,
            s"field '$name': a ${f.varType} selection needs a 2-element " +
              s"[lo, hi] array on the wire, got: $value")
        val sel = f.varType match {
          case VarType.Range(_, _, _) =>
            requireBounds()
            Selection.RangeSel(value.get(0).asDouble(), value.get(1).asDouble())
          case VarType.Enum(_) =>
            // same Jackson hole as Bool/Text: elements() on a scalar is
            // empty → EnumSel(Nil) → MatchAll, silently discarding the
            // selection (empty ARRAYS stay legal — defaultSelection uses
            // EnumSel(Seq.empty), and the skip rule drops them above)
            require(value.isArray,
              s"field '$name': an enum selection needs a string array on the wire, got: $value")
            val vs = Seq.newBuilder[String]
            val vit = value.elements()
            while (vit.hasNext) vs += vit.next().asText()
            Selection.EnumSel(vs.result())
          case VarType.Bool =>
            // Jackson's asInt() quietly maps an array/object to 0 — a
            // malformed blob must fail the dictionary check, not compile
            // a predicate the user never asked for
            require(value.isValueNode,
              s"field '$name': a boolean selection needs a scalar on the wire, got: $value")
            Selection.BoolSel(value.asInt())
          case VarType.DateTime =>
            // epoch_millis on the wire (`generateQuery`'s range format)
            requireBounds()
            Selection.TimeSel(value.get(0).asLong(), value.get(1).asLong())
          case VarType.Text | VarType.Unknown =>
            // same hole: asText() on an array is "" → an empty TextSel is
            // MatchAll, silently discarding the user's selection
            require(value.isValueNode,
              s"field '$name': a text selection needs a scalar value on the wire, got: $value")
            Selection.TextSel(value.asText())
          case VarType.Identifier =>
            throw new IllegalArgumentException(s"field '$name' is an identifier — never a widget")
        }
        fc = fc.select(name, sel)
      }
    }
    fc
  }

  /** Widget default value per type (`models.js:44-69`): range spans its
    * declared bounds, enums select nothing, booleans initialize to 1,
    * datetime spans epoch 0 → now, text is empty. Defaults are what the UI
    * renders before the user touches a widget — only *enabled* (selected)
    * widgets contribute predicates, matching `generateQuery`.
    */
  def defaultSelection(t: VarType, nowMillis: Long): Option[Selection] = t match {
    case VarType.Range(lo, hi, _) => Some(Selection.RangeSel(lo, hi))
    case VarType.Enum(_) => Some(Selection.EnumSel(Seq.empty))
    case VarType.Bool => Some(Selection.BoolSel(1))
    case VarType.DateTime => Some(Selection.TimeSel(0L, nowMillis))
    case VarType.Text | VarType.Unknown => Some(Selection.TextSel(""))
    case VarType.Identifier => None // identifiers never render a widget
  }
}

/** An immutable collection of dictionary-typed fields plus the user's
  * current selections; compiles to a predicate and a display string the way
  * the webapp's `FieldCollection` does.
  */
final case class FieldCollection(
    fields: Seq[Widgets.Field],
    selections: Map[String, Widgets.Selection]) {
  import Widgets._

  private val byName: Map[String, Field] = fields.map(f => f.name -> f).toMap

  /** Record a selection, validating it against the field's dictionary type
    * (a range selection on an enum field is a programming error the webapp
    * cannot express — fail fast instead of compiling nonsense).
    */
  def select(field: String, sel: Selection): FieldCollection = {
    val f = byName.getOrElse(field,
      throw new IllegalArgumentException(s"unknown or unfilterable field '$field'"))
    val ok = (f.varType, sel) match {
      case (VarType.Range(_, _, _), _: Selection.RangeSel) => true
      case (VarType.Enum(_), _: Selection.EnumSel) => true
      case (VarType.Bool, _: Selection.BoolSel) => true
      case (VarType.DateTime, _: Selection.TimeSel) => true
      case (VarType.Text | VarType.Unknown, _: Selection.TextSel) => true
      case _ => false
    }
    require(ok, s"selection ${sel.getClass.getSimpleName} does not fit field " +
      s"'$field' of type ${f.varType.serialize}")
    copy(selections = selections + (field -> sel))
  }

  /** The FilterSpec conjunction of all enabled (selected) widgets —
    * `generateQuery` (`collections.js:146-208`); empty/no-op selections
    * (empty enum, empty text) compile like the webapp's disabled widgets.
    */
  def spec: FilterSpec = {
    val specs = selections.toSeq.sortBy(_._1).flatMap { case (name, sel) =>
      sel match {
        case Selection.RangeSel(lo, hi) => Some(FilterSpec.NumericRange(name, lo, hi))
        case Selection.EnumSel(vs) if vs.nonEmpty => Some(FilterSpec.EnumIn(name, vs))
        case Selection.EnumSel(_) => None
        case Selection.BoolSel(v) => Some(FilterSpec.BoolEq(name, v))
        case Selection.TimeSel(from, to) => Some(FilterSpec.DateTimeRange(name, from, to))
        case Selection.TextSel(q) if q.trim.nonEmpty => Some(FilterSpec.PhrasePrefix(name, q))
        case Selection.TextSel(_) => None
      }
    }
    FilterSpec.conjunction(specs)
  }

  /** The compiled predicate (Q1-Q7). */
  def compile: Column = spec.compile

  /** The human-readable query text — `generateQueryDisplayText`. */
  def displayText: String = spec.render
}
