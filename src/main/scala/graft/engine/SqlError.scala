package graft.engine

/** A SQL-surface error with a MySQL error code + SQLSTATE, so the wire
  * server can answer the same ERR packet the reference emits (e.g.
  * duplicate-entry 1062/23000, /root/reference/src/execute_impl/
  * insert.rs:203). Non-SqlError exceptions fall back to 1105/HY000.
  */
final class SqlError(val code: Int, val sqlState: String, msg: String)
    extends RuntimeException(msg)

object SqlError {
  def duplicateEntry(key: String, table: String): SqlError =
    duplicateEntry(key, table, "PRIMARY")

  /** Duplicate on a named key — PRIMARY or a declared UNIQUE index
    * (insert.rs:208 formats `'{table}.{index_name}'` the same way).
    */
  def duplicateEntry(key: String, table: String, index: String): SqlError =
    new SqlError(1062, "23000",
      s"Duplicate entry '$key' for key '$table.$index'")

  /** MySQL's 1064 for a statement whose shape its handler does not
    * accept (or whose leading verb no handler knows); `near` is the text
    * from the failing position. LOAD DATA's clauses answer 1149.
    */
  def syntax(near: String, code: Int = 1064): SqlError =
    new SqlError(code, "42000",
      s"You have an error in your SQL syntax near '${near.take(80)}'")
}
