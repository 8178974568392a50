package graft

import org.scalatest.funsuite.AnyFunSuite

/** Each DuckDB sub-query that several oracles share is written once, as a
  * named fragment in its family object, and every oracle that needs it
  * interpolates that fragment. A pasted copy would let one oracle drift
  * from the others when the definition changes. */
class OracleFragmentsSpec extends AnyFunSuite {

  // one line of each shared fragment, by the file that defines it
  private val sentinels = Seq(
    "operators/CoreRelational.scala" ->
      "FROM co x JOIN co y ON x.ok = y.ok AND x.sk < y.sk",
    "operators/CoreRelational.scala" ->
      "JOIN e ac ON ab.src = ac.src AND bc.dst = ac.dst",
    "operators/CoreRelational.scala" ->
      "PARTITION BY u ORDER BY w DESC, v ASC) AS rn",
    "operators/CoreRelational.scala" ->
      "CAST(150000 + (85 * sum(pr",
    "operators/CoreRelational.scala" -> "+ ew.cost FROM d",
    "operators/TemporalOps.scala" ->
      "ORDER BY epoch_us(ts) DESC, event_id DESC",
    "operators/TemporalOps.scala" ->
      "WHERE prev_type IS NULL OR event_type <> prev_type",
    "operators/TemporalOps.scala" ->
      "epoch_us(o_orderdate)::VARCHAR, o_orderpriority)),1,15))::BIGINT",
    "operators/WindowedAnalytics.scala" ->
      "+ CAST(p.user_id IS NOT NULL AS INT) AS stage",
    "operators/LlmOps.scala" -> "string_split(text, ' ')",
    "operators/LlmOps.scala" -> "0.3*uniq_ratio + 0.4*(1.0 - stop_ratio)",
    "operators/LlmOps.scala" ->
      "i -> $toksSql[i] || ' ' || $toksSql[i+1] || ' ' || $toksSql[i+2]",
    "operators/LlmOps.scala" -> "s -> ('0x'||substr(md5(s),1,15))::BIGINT",
    "operators/LlmOps.scala" ->
      "SELECT r.src, e.b FROM reach r JOIN bi e ON r.dst = e.a",
    "operators/LlmOps.scala" -> "i -> t[i] || ' ' || t[i+1])) AS bg",
    "operators/LlmOps.scala" -> "GROUP BY doc_id, len($toksSql), word)",
    "operators/LlmOps.scala" ->
      "SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,",
    "operators/LlmOps.scala" ->
      "FROM g a JOIN g b ON a.h = b.h AND a.doc_id < b.doc_id",
    "operators/Lsh.scala" ->
      "cdocs AS (SELECT doc_id, list(h) AS ch FROM capped GROUP BY doc_id)",
    "operators/Lsh.scala" -> "JOIN mat USING (i)",
    "operators/Lsh.scala" -> "JOIN e b ON cand.vec_b = b.vec_id)",
    "operators/Lsh.scala" -> "FROM normed a JOIN qs ON a.cell = qs.cell)",
    "operators/Lsh.scala" -> "AND adc.sub = pc.sub AND adc.code = pc.code",
    "operators/Lsh.scala" -> "i -> $toksSql[i] || ' ' || $toksSql[i+1])),")

  test("each shared oracle fragment is written once under src/main/scala") {
    val root = new java.io.File("src/main/scala")
    val lines = new scala.collection.mutable.ArrayBuffer[(String, String)]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles.foreach(walk)
      else if (f.getName.endsWith(".scala")) {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex.foreach { case (line, i) =>
          lines += (s"${f.getName}:${i + 1}" -> line)
        } finally src.close()
      }
    walk(root)
    // each sentinel must be found where its fragment lives, or the scan
    // looks for nothing
    for ((home, sentinel) <- sentinels) {
      val name = new java.io.File(home).getName
      assert(lines.exists { case (at, l) =>
        at.startsWith(name + ":") && l.contains(sentinel) },
        s"sentinel not in $home: $sentinel")
    }
    val copies = sentinels.map { case (_, sentinel) =>
      sentinel -> lines.collect { case (at, l) if l.contains(sentinel) => at }
    }.filter(_._2.size > 1)
    assert(copies.isEmpty, "oracle fragments written more than once: " +
      copies.map { case (s, at) => s"$s @ ${at.mkString(", ")}" }.mkString("; "))
  }
}
