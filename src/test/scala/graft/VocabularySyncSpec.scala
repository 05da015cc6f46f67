package graft

import graft.plans.ScaleRules

/** Round-7 ADVICE item: a second copy of the bounded-name vocabulary
  * had drifted behind the gates' canonical copy (it lacked the round-6
  * promoted aliases), silently under-flagging exactly the alias-funnel
  * class the promotion was built to catch. The gates' test-side names
  * now FORWARD to [[graft.plans.ScaleRules]]; these tests pin that
  * delegation so a future "just add the name here" edit fails the
  * build instead of re-opening the drift.
  */
class VocabularySyncSpec extends GraftSpecBase {

  test("GradedPlans forwards to the canonical ScaleRules vocabulary") {
    assert(GradedPlans.lowCardNames eq ScaleRules.lowCardNames)
    assert(GradedPlans.boundedAliasNames eq ScaleRules.boundedAliasNames)
    assert(GradedPlans.growingNames eq ScaleRules.growingNames)
  }

  test("the round-7 verdict aliases are in the funnel vocabulary") {
    // the names that let q_fs_linkage's nation-blocked self-join and
    // q_lof's label-only block escape the round-6 gates
    val required = Set("c_nationkey", "s_nationkey", "nk", "labelb")
    assert(required.subsetOf(ScaleRules.lowCardNames))
  }
}
