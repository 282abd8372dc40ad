package graft.queries

/** DuckDB spellings shared by the oracles of several families. */
private[queries] object DuckSql {
  def dSum(sqlExpr: String) =
    s"CAST(sum(CAST($sqlExpr AS DECIMAL(28,10))) AS DOUBLE)"
  def dSumWhere(pred: String, sqlExpr: String) =
    s"CAST(sum(CAST(CASE WHEN $pred THEN $sqlExpr END AS DECIMAL(28,10))) AS DOUBLE)"
}
