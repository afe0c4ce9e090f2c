package graft.core

/* Core record types of the engine.
  *
  * The reference engine (kohyida1997/MPI_MapReduce) has exactly two data
  * abstractions: a whole-file document and a fixed-width key/value record
  * (see /root/reference tasks.h:12-20, main.cpp:36-47). We model them as
  * case classes with Spark `Encoder`s so typed `Dataset` pipelines work,
  * while the analytic operators below use plain `DataFrame`s.
  */
/** A whole text document (reference: one `{i}.txt` file read into a single
  * buffer, main.cpp:36-47). `docId` is the numeric file stem / table id. */
final case class Doc(docId: Long, content: String)

/** The reference's universal record: `struct { char key[8]; int val; }`
  * (tasks.h:12-15). The 7-char key cap is a *semantic* constraint applied at
  * reduce time (tasks.c:157-158), not a storage constraint — see
  * [[graft.agg.ReduceOps.truncateKey]]. */
final case class KeyValue(key: String, value: Int)
