package graft.analytics

/** The one round loop behind graft's run-until-nothing-changes loops. It owns
  * only the round counter, the cap and the cap failure; each caller's
  * `step` keeps its own checkpoint, convergence probe and actions, and
  * returns the next state with whether it is the fixpoint.
  */
object Fixpoint {

  /** Runs `step` from `init` until it reports done or `maxRounds` rounds
    * have run. Returns the last state and whether it converged; never
    * throws at the cap. */
  def iterate[S](init: S, maxRounds: Int)(step: S => (S, Boolean)): (S, Boolean) = {
    @annotation.tailrec
    def go(s: S, round: Int): (S, Boolean) =
      if (round >= maxRounds) (s, false)
      else step(s) match {
        case (next, true) => (next, true)
        case (next, false) => go(next, round + 1)
      }
    go(init, 0)
  }

  /** [[iterate]], failing with `failure` when the cap is reached first. */
  def run[S](init: S, maxRounds: Int, failure: => String)(step: S => (S, Boolean)): S = {
    val (s, converged) = iterate(init, maxRounds)(step)
    require(converged, failure)
    s
  }
}
