package graft.queries

/** DuckDB SQL fragments shared by the query modules' oracle strings.
  * Each mirrors the engine-side computation bit-for-bit.
  */
private[queries] object OracleSql {

  /** Whitespace tokens of the `text` column (mirrors TextAnalysis). */
  val duckTokens = "string_split_regex(trim(text), '\\s+')"

  /** md5-derived 60-bit hash (mirrors Hashing.hash64 / MinhashKernel). */
  def duckHash64(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT)"

  /** Left-fold double dot product of two list columns — bit-identical
    * to Similarity.dot (both fold products in index order). */
  def duckDot(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a)+1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  def duckCos(a: String, b: String): String =
    s"round(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})), 6)"
}
