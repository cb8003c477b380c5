package graft.ops

/** Physical-layout operators: multi-dimensional clustering for write-time
  * data skipping.
  *
  * A linear sort (DataSkippingSpec's tier-2 layout) gives perfect
  * row-group pruning on ONE column and none on any other. Z-ordering
  * interleaves the bits of two columns' bucket ranks into one clustering
  * key, so each written file covers a small rectangle of the
  * (a, b) value space — its parquet min/max stats are narrow in BOTH
  * columns, and a selective filter on EITHER prunes most row groups at
  * the reader. This is the standard lakehouse layout trick for tables
  * with more than one hot filter column (e.g. documents filtered by
  * source on one query and by length band on the next).
  *
  * Everything is pure Column arithmetic (bitwise spread-and-interleave,
  * codegen'd, no UDF); the only extra cost at write time is the 1-row
  * stats broadcast and the range exchange the sorted write needs anyway.
  * At 100 TB the write is one pass, and every subsequent scan with a
  * filter on either dimension reads a fraction of the table.
  */
object Layout extends layout.Manifests with layout.Commits
    with layout.Reads with layout.Branches with layout.Maintenance
    with layout.RowLevel with layout.BenchKeys
