package graft.ivm

/** Read-only view of engine counters that are package-private. The trace
  * counters are non-atomic `+= 1` updates, so read them as lower bounds. */
object BenchCounters {
  def traceRecords: Long = Trace.records
}
