package qbench

/** The held-out seed: not used while the benchmark or a change is tuned,
  * kept for confirming a claim (see NOTES.md).
  */
object Seeds {
  val HeldOut = 7919L
}
