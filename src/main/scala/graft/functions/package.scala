package graft

package object functions {

  /** [[BottomK]] over `(Long, Long, Long)` triples in tuple order: a
    * posting list's head (q92) or a per-source bottom-k sample (q201,
    * q207).
    */
  type BottomKTriples[IN] = BottomK[IN, (Long, Long, Long)]
}
