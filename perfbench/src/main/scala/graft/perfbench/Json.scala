package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper

/** JSON in and out through the Jackson that ships with Spark: results are
  * assembled as Java maps and lists, requests are read back the same way. */
object Json {
  private val mapper = new ObjectMapper()

  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, toJava(v)) }
    m
  }

  def toJava(v: Any): Any = v match {
    case m: java.util.Map[_, _] => m
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: scala.collection.Seq[_] =>
      val out = new java.util.ArrayList[Any]()
      s.foreach(x => out.add(toJava(x)))
      out
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case o: Option[_] => o.map(toJava).orNull
    case other => other
  }

  def write(path: String, value: Any): Unit =
    mapper.writeValue(new java.io.File(path), toJava(value))

  def read(path: String): java.util.Map[String, Any] =
    mapper.readValue(new java.io.File(path), classOf[java.util.Map[String, Any]])
}
