package graftbench

import org.json4s.{DefaultFormats, Formats}

/** JSON rendering of the run's result and span files (json4s ships with
  * Spark). Doubles that are not numbers render as null. */
object Json {
  private implicit val formats: Formats = DefaultFormats

  def write(v: Any): String =
    org.json4s.jackson.JsonMethods.compact(org.json4s.Extraction.decompose(clean(v)))

  private def clean(v: Any): Any = v match {
    case d: Double if d.isNaN || d.isInfinite => null
    case m: collection.Map[_, _] => m.map { case (k, x) => k.toString -> clean(x) }.toMap
    case xs: Iterable[_] => xs.map(clean).toList
    case other => other
  }
}
