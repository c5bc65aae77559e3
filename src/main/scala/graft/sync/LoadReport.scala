package graft.sync

/** Human-readable load report, matching the reference's strings
  * (`app/data.py:134`, `:153`, `:202`, `:255`) with its bugs fixed:
  *
  *  - B4: `n_records` excludes the header row on every path (the
  *    reference over-counts on Azure `:189` and Snowflake `:224`);
  *  - B5: `action` is always defined, even for empty sheets (the
  *    reference leaves it unbound when `n_records == 0`, `:255`).
  *
  * Every sink counts `nRecords` in the write's own pass: the file
  * sinks' tasks return their row counts ([[LocalDestination]]), the
  * JDBC write observes a count ([[JdbcDestination.write]]).
  */
final case class LoadReport(
    action: Option[SyncAction],
    target: String,
    nRecords: Long) {

  def render: String = action match {
    case Some(a) =>
      s"${a.pastTense} and loaded into $target.\n$nRecords records loaded successfully.\n"
    case None =>
      s"Created $target.\n$nRecords records loaded successfully.\n"
  }
}
