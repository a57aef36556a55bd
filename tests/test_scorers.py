"""Unit tests for the deterministic scorer (reference ops E3-E5, E8-E10)."""

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from autoextraction_spark import scorers
from autoextraction_spark import schema as S


def test_score2prob_exact_reference_math():
    # Environment.py:90-99: softmax over raw logits, prob=Σ softmax per
    # mention, score=max logit per mention
    ents = [("A", 2.0), ("B", 1.0), ("A", 0.5)]
    out = dict((m, (p, s)) for m, p, s in scorers.score2prob(ents))
    logsum = math.exp(2.0) + math.exp(1.0) + math.exp(0.5)
    assert math.isclose(out["A"][0], (math.exp(2.0) + math.exp(0.5)) / logsum)
    assert math.isclose(out["B"][0], math.exp(1.0) / logsum)
    assert out["A"][1] == 2.0 and out["B"][1] == 1.0


def test_null_fallback():
    # Environment.py:118-119: empty extraction -> ('[None]', 0.9, 3)
    got = scorers.extract_candidates("no entities here.", "works_for", "en", {}, "subject")
    assert got == [(S.NONE_SENTINEL, 0.9, 3.0)]


def test_primary_extraction_both_slots():
    text = "Alice Stone works for Acme Corp."
    subj = scorers.extract_candidates(text, "works_for", "en", {}, "subject")
    assert subj[0][0] == "Alice Stone"
    obj = scorers.extract_candidates(text, "works_for", "en", {}, "object")
    assert obj[0][0] == "Acme Corp"


def test_constrained_extraction():
    text = "Alice Stone works for Acme Corp.\nBrian Rivera works for Helios Labs."
    objs = scorers.extract_candidates(
        text, "works_for", "en", {"subject": "Brian Rivera"}, "object"
    )
    assert [m for m, _, _ in objs] == ["Helios Labs"]


def test_alt_template_is_order_sensitive():
    # data_filter.py:174-207 semantics: subject-first misses alt phrasing,
    # object-first recovers it
    text = "Karen Stone is at Meridian Systems."
    subj_first = scorers.extract_candidates(text, "works_for", "en", {}, "subject")
    assert subj_first == [(S.NONE_SENTINEL, 0.9, 3.0)]
    obj_first = scorers.extract_candidates(text, "works_for", "en", {}, "object")
    assert obj_first[0][0] == "Meridian Systems"
    subj_given = scorers.extract_candidates(
        text, "works_for", "en", {"object": "Meridian Systems"}, "subject"
    )
    assert subj_given[0][0] == "Karen Stone"


def test_rl_policy_adapts_order():
    alt_text = "Karen Stone is at Meridian Systems."
    assert scorers.choose_slot(alt_text, "works_for", "en", {}, ["subject", "object"]) == "object"
    prim_text = "Alice Stone works for Acme Corp."
    assert (
        scorers.choose_slot(prim_text, "works_for", "en", {}, ["subject", "object"])
        == "subject"
    )


def test_baseline_policies():
    rem = ["subject", "object"]
    assert scorers.choose_slot("x", "works_for", "en", {}, rem, "sequence") == "subject"
    assert scorers.choose_slot("x", "works_for", "en", {}, rem, "reverse") == "object"
    r1 = scorers.choose_slot("x", "works_for", "en", {}, rem, "random")
    assert r1 == scorers.choose_slot("x", "works_for", "en", {}, rem, "random")


def test_zh_grammar():
    text = "王伟任职于华信集团。"
    subj = scorers.extract_candidates(text, "works_for", "zh", {}, "头实体")
    assert subj[0][0] == "王伟"
    obj = scorers.extract_candidates(text, "works_for", "zh", {"头实体": "王伟"}, "尾实体")
    assert obj[0][0] == "华信集团"


def test_none_assigned_kills_fork():
    got = scorers.raw_candidates(
        "Alice Stone works for Acme Corp.", "works_for", "en",
        {"object": S.NONE_SENTINEL}, "subject",
    )
    assert got == []


def test_candidate_order_deterministic():
    text = "Alice Stone works for Acme Corp.\nBrian Rivera works for Acme Corp."
    subj = scorers.extract_candidates(text, "works_for", "en", {}, "subject")
    assert [m for m, _, _ in subj] == ["Alice Stone", "Brian Rivera"]


def test_batch_step_aligns_with_step_state():
    # the wave API must be a pure batching of step_state — output[i]
    # corresponds to states[i] (the neural-swap contract)
    states = [
        ("Alice Stone works for Acme Corp.", "works_for", "en", {}, ["subject", "object"]),
        ("Acme Corp is based in Rome.", "based_in", "en", {"subject": "Acme Corp"}, ["object"]),
        ("no match here", "founded", "en", {}, ["subject", "object"]),
    ]
    got = scorers.batch_step(list(states))
    want = [scorers.step_state(*s) for s in states]
    assert got == want


def test_choice_reward_two_step_lookahead():
    # E7 (Environment.py:101-184): on an alt-phrased fact ("X is at Y"),
    # unconstrained-subject extraction sees only primary connectors, so
    # choosing OBJECT first unlocks more gold-consistent mass — exactly the
    # order-sensitivity signal the reward must surface for the DQN
    text = "Alice Stone is at Acme Corp."
    gold = [{"subject": "Alice Stone", "object": "Acme Corp"}]
    rem = ["subject", "object"]
    r_subj, c_subj = scorers.choice_reward(
        text, "works_for", "en", {}, rem, "subject", gold
    )
    r_obj, c_obj = scorers.choice_reward(
        text, "works_for", "en", {}, rem, "object", gold
    )
    # subject-first: only '[None]' extracts (primary-only gate) -> no gold hit
    assert c_subj == [scorers.NONE_CAND]
    assert r_subj == 0.0
    # object-first: alt connector fires; 2-step then recovers the subject
    assert c_obj[0][0] == "Acme Corp"
    assert r_obj > 0.0


def test_choice_reward_depth1_matches_reference_math():
    # step==1: sum of MAX LOGITS of 1-step extractions matching gold
    text = "Alice Stone works for Acme Corp."
    gold = [{"subject": "Alice Stone", "object": "Acme Corp"}]
    r, cands = scorers.choice_reward(
        text, "works_for", "en", {}, ["subject", "object"], "subject", gold,
        depth=1,
    )
    assert [c[0] for c in cands] == ["Alice Stone"]
    assert r == cands[0][2]  # one matching mention -> its max logit
    # non-matching gold contributes nothing
    r2, _ = scorers.choice_reward(
        text, "works_for", "en", {}, ["subject", "object"], "subject",
        [{"subject": "Bob Rivera", "object": "Acme Corp"}], depth=1,
    )
    assert r2 == 0.0


def test_literal_prefix_fast_path_equals_compiled_pattern():
    """The fixed-subject fast path (_objs_after_literal) must reproduce
    re.finditer over the compiled per-mention pattern EXACTLY — including
    non-overlap resume, repeated occurrences, and near-miss prefixes."""
    import re

    def reference(text, prefix, lang):
        ent = scorers.ZH_ENT if lang == "zh" else scorers.EN_ENT
        tail = "。" if lang == "zh" else r"(?![A-Za-z])"
        pat = re.compile(f"{re.escape(prefix)}({ent}){tail}")
        return [m.group(1) for m in pat.finditer(text)]

    cases = [
        # plain hit
        ("Alice Stone works for Acme Corp.", "Alice Stone works for ", "en"),
        # two occurrences of the same literal
        ("X works for Acme Corp. X works for Beta Inc.", "X works for ", "en"),
        # literal occurs but suffix fails (lowercase continuation)
        ("X works for acme corp.", "X works for ", "en"),
        # tail lookahead rejects a letter continuation, then a later hit lands
        ("X works for AcmeCorpx X works for Acme Corp.", "X works for ", "en"),
        # literal inside an earlier match's object (overlap/resume rule)
        ("A works for B works for Cc D.", " works for ", "en"),
        # prefix at position 0 and at end-of-text with no room for the entity
        ("Acme Corp. tail X works for ", "X works for ", "en"),
        # zh: CJK entity + 。 tail
        ("张三就职于北京大学。", "张三就职于", "zh"),
        ("张三就职于北京大学", "张三就职于", "zh"),  # missing 。 -> no match
    ]
    for text, prefix, lang in cases:
        assert scorers._objs_after_literal(text, prefix, lang) == reference(
            text, prefix, lang
        ), (text, prefix, lang)

    # whole-corpus differential: every (rel, lang, conn) over real corpus
    # text, fixed-subject direction, fast path vs compiled pattern
    from autoextraction_spark.corpus import build_html
    from autoextraction_spark.operators.text_extract import extract_text

    for d in range(0, 400):
        lang = "zh" if d % 3 == 2 else "en"
        text = extract_text(build_html(d, lang).encode("utf-8"))
        for rel, _, _ in S.RELATIONS:
            templates = (S.ZH_TEMPLATES if lang == "zh" else S.EN_TEMPLATES)
            if rel not in templates:
                continue
            # every subject mention the unconstrained pass can produce
            subs = {
                m
                for m, _ in scorers._matches(text, rel, lang, 0, None, True)
            }
            for fixed in subs:
                for conn, _p in templates[rel]:
                    assert scorers._objs_after_literal(
                        text, fixed + conn, lang
                    ) == reference(text, fixed + conn, lang)


# --------------------------------------------------------------- one scan
# remaining_raw_candidates must equal raw_candidates per slot; step_state's
# rl branch must equal the per-slot ranking it replaced (_per_slot_rl_step).
# test_ordered_slot_fill_matches_sequential_reference uses step_state as its
# oracle, so drift inside step_state can only be caught here.

EN_NAMES = ["Alice Stone", "Acme Corp", "Brian Rivera", "Helios Labs", "Rome", "Acme"]
ZH_NAMES = ["王伟", "华信集团", "北京", "李娜", "华信"]


def _names(lang):
    return ZH_NAMES if lang == "zh" else EN_NAMES


def _binary_text(draw, lang):
    """Sentences chaining names with connectors of ANY relation, primary
    and alt: chains of three give overlapping mentions (``A works for B is
    at C.``), and a name's prefix (Acme / Acme Corp) gives near misses."""
    templates = S.ZH_TEMPLATES if lang == "zh" else S.EN_TEMPLATES
    conns = sorted({c for ts in templates.values() for c, _p in ts})
    end = "。" if lang == "zh" else "."
    sents = []
    for _ in range(draw(st.integers(0, 4))):
        chain = draw(st.lists(st.sampled_from(_names(lang)), min_size=1, max_size=3))
        parts = [chain[0]]
        for name in chain[1:]:
            parts += [draw(st.sampled_from(conns)), name]
        sents.append("".join(parts) + draw(st.sampled_from([end, "", " x"])))
    return draw(st.sampled_from([" ", "\n"])).join(sents)


def _event_text(draw, etype):
    ev = S.EVENTS[etype]
    names = _names(ev["lang"])
    sents = []
    for _ in range(draw(st.integers(0, 3))):
        parts = [ev["parts"][0]]
        for part in ev["parts"][1:]:
            parts += [draw(st.sampled_from(names)), part]
        sents.append("".join(parts))
    return " ".join(sents)


@st.composite
def scorer_states(draw):
    """(text, rel, lang, assigned, remaining) over three kinds of text:
    synthetic binary-relation sentences (en, zh), synthetic sentences of
    each event type, and corpus pages (build_html -> extract_text). Every
    slot is independently open, assigned a mention, or '[None]'."""
    kind = draw(st.sampled_from(["binary", "event", "corpus"]))
    if kind == "binary":
        lang = draw(st.sampled_from(["en", "zh"]))
        rel = draw(st.sampled_from(sorted(S.EN_TEMPLATES)))
        text = _binary_text(draw, lang)
    elif kind == "event":
        rel = draw(st.sampled_from(sorted(S.EVENTS)))
        lang = S.EVENTS[rel]["lang"]
        text = _event_text(draw, rel)
    else:
        from autoextraction_spark.corpus import build_html
        from autoextraction_spark.operators.text_extract import extract_text

        d = draw(st.integers(0, 5000))
        lang = draw(st.sampled_from(["en", "zh"]))
        text = extract_text(build_html(d, lang).encode("utf-8"))
        rel = draw(
            st.sampled_from(sorted(S.EN_TEMPLATES) + S.EVENT_NAMES_BY_LANG[lang])
        )
    slots = (
        list(S.EVENTS[rel]["roles"]) if rel in S.EVENTS else scorers.slot_names(lang)
    )
    # mentions the text really holds, plus the synthetic name pool
    pool = sorted(
        {m for s in slots for m, _ in scorers.raw_candidates(text, rel, lang, {}, s)}
        | set(_names(lang))
    )
    assigned = {}
    for s in slots:
        pick = draw(st.sampled_from(["open", "open", "mention", "none"]))
        if pick == "mention":
            assigned[s] = draw(st.sampled_from(pool))
        elif pick == "none":
            assigned[s] = S.NONE_SENTINEL
    remaining = draw(st.permutations([s for s in slots if s not in assigned]))
    return text, rel, lang, assigned, list(remaining)


def _per_slot_rl_step(text, rel, lang, assigned, remaining):
    """The rl step as it was before the one-scan helper: one
    raw_candidates scan per open slot, argmax(Q1+Q2) with first-max."""
    raws = {s: scorers.raw_candidates(text, rel, lang, assigned, s) for s in remaining}
    best_i, best_q = 0, float("-inf")
    for i, slot in enumerate(remaining):
        q1 = float(len(raws[slot]))
        q2 = 0.5 * q1 + (0.25 if q1 > 0 else 0.0)
        if q1 + q2 > best_q:
            best_i, best_q = i, q1 + q2
    chosen = remaining[best_i]
    cands = scorers.score2prob(raws[chosen]) or [scorers.NONE_CAND]
    return chosen, cands, sum(c[2] for c in cands) / len(cands)


def _event_reference(text, etype, assigned, role):
    """Event extraction with one pattern per wanted role, built
    independently of scorers._event_scan (the per-role builder the shared
    scan replaced)."""
    import re

    if S.NONE_SENTINEL in assigned.values():
        return []
    ev = S.EVENTS[etype]
    ent = scorers.ZH_ENT if ev["lang"] == "zh" else scorers.EN_ENT
    segs, group_idx, seen = [re.escape(ev["parts"][0])], 0, 0
    for r, part in zip(ev["roles"], ev["parts"][1:]):
        if r in assigned:
            segs.append(re.escape(assigned[r]))
        else:
            seen += 1
            group_idx = seen if r == role else group_idx
            segs.append(f"({ent})")
        segs.append(re.escape(part))
    pat = re.compile("".join(segs))
    return [(m.group(group_idx), scorers.PRIMARY_LOGIT) for m in pat.finditer(text)]


@settings(max_examples=400, deadline=None)
@given(scorer_states())
def test_remaining_raw_candidates_equals_per_slot(state):
    text, rel, lang, assigned, remaining = state
    per_slot = [scorers.raw_candidates(text, rel, lang, assigned, s) for s in remaining]
    assert scorers.remaining_raw_candidates(text, rel, lang, assigned, remaining) == per_slot
    if rel in S.EVENTS:
        assert per_slot == [_event_reference(text, rel, assigned, s) for s in remaining]


@settings(max_examples=400, deadline=None)
@given(scorer_states())
def test_rl_step_equals_per_slot_ranking(state):
    text, rel, lang, assigned, remaining = state
    if not remaining:
        return
    want = _per_slot_rl_step(text, rel, lang, assigned, remaining)
    assert scorers.step_state(text, rel, lang, assigned, remaining, "rl") == want
    assert scorers.choose_slot(text, rel, lang, assigned, remaining, "rl") == want[0]


def test_remaining_raw_candidates_fixed_cases():
    # the kinds of state the property above must reach, pinned by hand
    en = "Alice Stone works for Acme Corp is at Rome. Brian Rivera is at Helios Labs."
    cases = [
        (en, "works_for", "en", {}, ["subject", "object"]),
        (en, "works_for", "en", {}, ["object", "subject"]),
        (en, "works_for", "en", {"subject": "Alice Stone"}, ["object"]),
        (en, "works_for", "en", {"object": S.NONE_SENTINEL}, ["subject"]),
        ("王伟任职于华信集团。李娜任职于北京。", "works_for", "zh", {}, ["头实体", "尾实体"]),
        ("Acme Corp hired Alice Stone in Rome.", "hired", "en", {},
         ["employer", "employee", "city"]),
        ("Acme Corp hired Alice Stone in Rome.", "hired", "en",
         {"employee": "Alice Stone"}, ["city", "employer"]),
        ("华信集团并购了北京，交易城市为北京。", "并购", "zh",
         {"收购方": S.NONE_SENTINEL}, ["被收购方", "城市"]),
    ]
    for text, rel, lang, assigned, remaining in cases:
        got = scorers.remaining_raw_candidates(text, rel, lang, assigned, remaining)
        assert got == [
            scorers.raw_candidates(text, rel, lang, assigned, s) for s in remaining
        ], (text, rel, assigned, remaining)
    # the alt connector feeds the object list only (primary-only subject)
    subj, obj = scorers.remaining_raw_candidates(
        en, "works_for", "en", {}, ["subject", "object"]
    )
    assert [m for m, _ in subj] == ["Alice Stone"]
    assert [m for m, _ in obj] == ["Acme Corp", "Rome", "Helios Labs"]
