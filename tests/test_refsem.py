"""Golden-row unit tests for the pure-Python reference-semantics oracle
(SURVEY.md §5 strategy (1)); hand-computed expectations transcribe the
reference algorithms' behavior on small inputs, including the quirks."""

from deepref_spark import refsem
from deepref_spark.nlp import RuleTagger


def test_tag_sentence_semeval_strips_quotes_and_markers():
    line = '1\t"The <e1>outline</e1> focuses on <e2>spirituality</e2> and mysticism."'
    tagged = refsem.tag_sentence_semeval(line)
    assert tagged == (
        "The ENTITYSTART outline ENTITYEND focuses on "
        "ENTITYOTHERSTART spirituality ENTITYOTHEREND and mysticism."
    )


def test_tag_sentence_offsets_basic():
    # DDI-style: "Aspirin increases the effect of warfarin."
    s = "Aspirin increases the effect of warfarin."
    tagged = refsem.tag_sentence_offsets(s, ["0-6"], ["32-39"], [])
    assert tagged == (
        "ENTITYSTART Aspirin ENTITYEND increases the effect of "
        "ENTITYOTHERSTART warfarin ENTITYOTHEREND ."
    )


def test_tag_sentence_offsets_single_span_drops_tail():
    # reference quirk (dataset_converter.py:69-72): with one span the
    # trailing text is lost (the trailing-append lives in the i>0 branch)
    s = "Aspirin increases effect."
    tagged = refsem.tag_sentence_offsets(s, ["0-6"], ["0-6"], [])
    assert tagged == "ENTITYSTART Aspirin ENTITYEND"


def test_tag_sentence_offsets_first_wins_collision():
    # e2 sharing e1's offset keeps e1's markers (dataset_converter.py:46-52)
    s = "aspirin helps people daily."
    tagged = refsem.tag_sentence_offsets(s, ["0-6"], ["0-6", "14-19"], [])
    assert tagged.startswith("ENTITYSTART aspirin ENTITYEND")
    assert "ENTITYOTHERSTART people ENTITYOTHEREND" in tagged


def test_untag_first_occurrence_only():
    toks = "a ENTITYSTART b ENTITYEND c ENTITYOTHERSTART d ENTITYOTHEREND ENTITYUNRELATEDSTART e ENTITYUNRELATEDEND".split()
    assert refsem.untag_tokens(toks) == ["a", "b", "c", "d", "e"]


def test_untag_sentence_string_form():
    tagged = "ENTITYSTART x ENTITYEND y ENTITYOTHERSTART z ENTITYOTHEREND ENTITYSTART"
    assert refsem.untag_sentence(tagged) == "x y z ENTITYSTART"


def test_get_entities_head_first():
    tagged = "the ENTITYSTART quick fox ENTITYEND jumped over ENTITYOTHERSTART dogs ENTITYOTHEREND today".split()
    original = refsem.untag_tokens(tagged)
    e1, e2 = refsem.get_entities(tagged, original)
    assert e1 == {"name": "quick fox", "position": [1, 3]}
    assert e2 == {"name": "dogs", "position": [5, 6]}
    assert original[e1["position"][0]:e1["position"][1]] == ["quick", "fox"]


def test_get_entities_tail_first():
    tagged = "the ENTITYOTHERSTART dogs ENTITYOTHEREND saw ENTITYSTART quick fox ENTITYEND today".split()
    original = refsem.untag_tokens(tagged)
    e1, e2 = refsem.get_entities(tagged, original)
    assert e2 == {"name": "dogs", "position": [1, 2]}
    assert e1 == {"name": "quick fox", "position": [3, 5]}


def test_get_entities_ignores_unrelated_markers():
    tagged = ("ENTITYUNRELATEDSTART cat ENTITYUNRELATEDEND the ENTITYSTART fox ENTITYEND "
              "ran to ENTITYOTHERSTART dogs ENTITYOTHEREND").split()
    original = refsem.untag_tokens(tagged)
    e1, e2 = refsem.get_entities(tagged, original)
    assert e1["name"] == "fox"
    assert e2["name"] == "dogs"


def _mention(tokens, h_pos, t_pos, tagger=None):
    tagger = tagger or RuleTagger()
    pos, deps, ner = tagger(tokens)
    return refsem.Mention(
        token=list(tokens),
        h={"name": " ".join(tokens[h_pos[0]:h_pos[1]]), "pos": list(h_pos)},
        t={"name": " ".join(tokens[t_pos[0]:t_pos[1]]), "pos": list(t_pos)},
        relation="cause-effect",
        pos_tags=pos, deps=deps, ner=ner,
    )


def test_preproc_sw_removes_stopwords_and_shifts():
    toks = "the quick fox is near the lazy dogs".split()
    m = _mention(toks, [1, 3], [6, 8])
    out = refsem.preproc_sw(m.copy())
    # 'the'(0), 'is'(3), 'the'(5) removed; 'near' is not a stopword
    assert out.token == ["quick", "fox", "near", "lazy", "dogs"]
    assert out.h["pos"] == [0, 2]
    assert out.t["pos"] == [3, 5]


def test_preproc_sw_protects_entity_tokens():
    toks = "the the fox meets dogs".split()
    m = _mention(toks, [1, 2], [4, 5])  # h = 'the' (a stopword) — protected
    out = refsem.preproc_sw(m.copy())
    assert out.token == ["the", "fox", "meets", "dogs"]
    assert out.h["pos"] == [0, 1]


def test_preproc_p_removes_punct_tokens():
    toks = "fox , meets . dogs".split()
    m = _mention(toks, [0, 1], [4, 5])
    out = refsem.preproc_p(m.copy())
    assert out.token == ["fox", "meets", "dogs"]
    assert out.t["pos"] == [2, 3]


def test_preproc_b_removes_bracket_spans():
    toks = "fox ( small red ) meets dogs".split()
    m = _mention(toks, [0, 1], [6, 7])
    out = refsem.preproc_b(m.copy())
    assert out.token == ["fox", "meets", "dogs"]
    assert out.t["pos"] == [2, 3]


def test_preproc_b_entity_inside_brackets_survives():
    toks = "alpha ( fox beta ) meets dogs".split()
    m = _mention(toks, [2, 3], [6, 7])  # h = fox inside brackets
    out = refsem.preproc_b(m.copy())
    assert "fox" in out.token
    assert out.token[out.h["pos"][0]] == "fox"


def test_preproc_d_blind_digits_even_in_entities():
    toks = "fox paid 42 to dogs".split()
    m = _mention(toks, [0, 1], [4, 5])
    out = refsem.preproc_d(m.copy())
    assert out.token == ["fox", "paid", "DIGIT", "to", "dogs"]


def test_preproc_eb_collapses_and_shifts():
    toks = "the quick fox meets lazy dogs now".split()
    m = _mention(toks, [1, 3], [5, 6])  # h='quick fox' len2, t='dogs'
    out = refsem.preproc_blind(m.copy(), "entity", "ENTITY")
    assert out.token == ["the", "ENTITY", "meets", "lazy", "ENTITY", "now"]
    assert out.h["pos"] == [1, 2]
    assert out.t["pos"] == [4, 5]


def test_preproc_nb_uses_ner_tag():
    toks = "the fox meets dogs".split()
    m = _mention(toks, [1, 2], [3, 4])
    m.ner = ["O", "ANIMAL", "O", "BEAST"]
    out = refsem.preproc_blind(m.copy(), "ner", None)
    assert out.token == ["the", "ANIMAL", "meets", "BEAST"]


def test_preproc_blind_tail_first_branch():
    toks = "big dogs saw the quick fox today".split()
    m = _mention(toks, [4, 6], [1, 2])  # h after t
    out = refsem.preproc_blind(m.copy(), "entity", "ENTITY")
    assert out.token == ["big", "ENTITY", "saw", "the", "ENTITY", "today"]
    assert out.t["pos"] == [1, 2]
    assert out.h["pos"] == [4, 5]


def test_composition_order_and_eb_nb_collapse():
    assert refsem.normalize_preproc(["eb", "nb", "d", "sw"]) == ["sw", "d", "nb"]
    assert refsem.variant_key([]) == "original"
    assert refsem.variant_key(["nb", "sw"]) == "nb_sw"
    assert len(refsem.all_preproc_combinations()) == 48  # test_config.py:5-12


def test_sk_extract_golden():
    # reference golden (deepref/tests/dataset/test_sentence.py:12)
    sk = refsem.sk_extract(["audits", "waste"], refsem.DEFAULT_HYPERNYMS)
    assert sk == {"ses1": ["boundary", "extremity"], "ses2": ["property", "possession"]}


def test_sk_extract_fallbacks():
    sk = refsem.sk_extract(["unknownword", "aspirin"], {"aspirin": "analgesic.n.01"})
    assert sk["ses1"] == ["unknownword", "unknownword"]
    assert sk["ses2"] == ["analgesic", "analgesic"]  # no grandpa -> father twice
    sk2 = refsem.sk_extract(["x", "x"], {"x": "social_group.n.01", "social_group": "group.n.01"})
    assert sk2["ses1"] == ["group", "group"]  # unigram keeps last '_' segment


def test_bert_entity_tokenize_layout():
    toks = "alpha beta gamma delta epsilon".split()
    ids, mask, p1, p2 = refsem.bert_entity_tokenize(toks, [1, 2], [3, 4], max_length=16)
    # [CLS] alph(+##a pieces)... entity markers at expected indexes
    pieces = (["[CLS]"] + refsem.tokenize_text("alpha")
              + ["[unused0]"] + refsem.tokenize_text("beta") + ["[unused1]"]
              + refsem.tokenize_text("gamma")
              + ["[unused2]"] + refsem.tokenize_text("delta") + ["[unused3]"]
              + refsem.tokenize_text("epsilon") + ["[SEP]"])
    assert p1 == 1 + len(refsem.tokenize_text("alpha"))
    n = min(len(pieces), 16)  # kernel pads/truncates to max_length
    assert ids[:n] == [refsem.piece_to_id(p) for p in pieces][:n]
    assert mask[n - 1] == 1
    if len(pieces) < 16:
        assert mask[len(pieces)] == 0 and ids[len(pieces)] == 0


def test_bert_entity_tokenize_reversed_and_clamped():
    toks = ["w"] * 30
    ids, mask, p1, p2 = refsem.bert_entity_tokenize(toks, [25, 26], [2, 3], max_length=8)
    # tail precedes head -> rev branch; positions clamped to max_length-1
    assert p2 == 1 + len(refsem.tokenize_text("w w"))  # pos2 = 1 + len(sent0)
    assert p1 <= 7 and p2 <= 7
    assert len(ids) == 8 and len(mask) == 8
    assert all(m == 1 for m in mask)  # true length exceeds max_length


def test_eval_kernel_quirks():
    rel2id = {"Other": 0, "cause-effect": 1, "member-collection": 2}
    goldens = [0, 0, 1, 1, 2, 2, 1, 0, 2, 1]
    preds = [0, 1, 1, 1, 2, 0, 2, 0, 2, 1]
    r = refsem.eval_predictions(goldens, preds, rel2id)
    # correct: idx 0,2,3,4,7,8,9 -> 7/10
    assert abs(r["acc"] - 0.7) < 1e-12
    # positives: golden != Other. correct_positive = 5 (idx 2,3,4,8,9)
    # pred_positive = 6 (idx 1,2,3,4,6,9,8 -> 1,2,3,4,6,8,9 = 7) — compute:
    pred_positive = sum(1 for p in preds if p != 0)
    gold_positive = sum(1 for g in goldens if g != 0)
    assert abs(r["micro_p"] - 5 / pred_positive) < 1e-12
    assert abs(r["micro_r"] - 5 / gold_positive) < 1e-12
    assert r["micro_f1"] == r["acc"]  # sklearn all-labels overwrite quirk


def test_find_negative_class_order_and_ddi_int():
    assert refsem.find_negative_class({"int": 3, "effect": 0}) == 3
    assert refsem.find_negative_class({"Other": 2, "none": 1}) == 2  # 'Other' first in list
    assert refsem.find_negative_class({"effect": 0}) == -1


def test_tagger_backend_dispatch_and_fallback():
    """T3/T4 dispatch: unavailable backends degrade to RuleTagger; the
    Stanza adapter exists with the reference contract (import-guarded
    like SpacyTagger — stanza is not in this container)."""
    from deepref_spark import nlp

    assert isinstance(nlp.get_tagger("ruletag"), nlp.RuleTagger)
    assert isinstance(nlp.get_tagger("nonsense"), nlp.RuleTagger)
    # neither lib is installed here -> graceful fallback
    assert isinstance(nlp.get_tagger("spacy"), (nlp.SpacyTagger, nlp.RuleTagger))
    assert isinstance(nlp.get_tagger("stanza"), (nlp.StanzaTagger, nlp.RuleTagger))
    # adapter contract (without the lib): lazy pipeline untouched on init
    st = nlp.StanzaTagger()
    assert st.name == "stanza" and st._nlp is None
    pos, deps, ner = nlp.RuleTagger()(["the", "cat", "runs", "."])
    assert len(pos) == len(deps) == len(ner) == 4


def test_wordpiece_greedy_reference_semantics():
    """K5 — greedy longest-match-first per word_piece_tokenizer.py:61-96,
    including the vendored docstring example and the is_bad/[UNK] and
    max_input_chars_per_word branches."""
    # the reference's own example (word_piece_tokenizer.py:45-47)
    assert refsem.wordpiece_greedy("unaffable") == ["un", "##aff", "##able"]
    # longest-match-first: 'the' matches whole, not t-h-e singles
    assert refsem.wordpiece_greedy("the") == ["the"]
    assert refsem.wordpiece_greedy("preform") == ["pre", "##f", "##o", "##r", "##m"]
    # suffix fragments win over singles at continuation positions
    assert refsem.wordpiece_greedy("going")[-1] == "##ing"
    # is_bad: any unmatched char makes the WHOLE word [UNK]
    assert refsem.wordpiece_greedy("café") == ["[UNK]"]
    assert refsem.wordpiece_greedy("ABC") == ["[UNK]"]
    # max_input_chars_per_word guard (word_piece_tokenizer.py:62-64)
    assert refsem.wordpiece_greedy("a" * 201) == ["[UNK]"]
    assert refsem.wordpiece_greedy("") == []


def test_wordpiece_greedy_over_complete_k_vocab_equals_chunker():
    """With a complete <=4-char vocab, greedy longest-match always takes
    4 chars — i.e. the oracle-checkable fixed-width chunker IS greedy
    wordpiece under that vocab (why kg_tokenize's SQL twin is faithful)."""
    import itertools

    alpha = "abcde"
    vocab = set()
    for k in (1, 2, 3, 4):
        for tup in itertools.product(alpha, repeat=k):
            piece = "".join(tup)
            vocab.add(piece)
            vocab.add("##" + piece)
    import random

    rnd = random.Random(42)
    for _ in range(200):
        w = "".join(rnd.choice(alpha) for _ in range(rnd.randint(1, 15)))
        assert refsem.wordpiece_greedy(w, vocab=vocab) == refsem.wordpiece(w)


def test_bert_entity_tokenize_with_greedy_wordpiece():
    """The K1 layout invariants hold with the real matcher plugged in."""
    toks = "the unaffable glacier is running over there".split()
    ids, mask, p1, p2 = refsem.bert_entity_tokenize(
        toks, [1, 2], [2, 3], max_length=64, wp=refsem.wordpiece_greedy
    )
    assert ids[p1] == refsem.SPECIAL_TOKENS["[unused0]"]
    assert ids[p2] == refsem.SPECIAL_TOKENS["[unused2]"]
    assert len(ids) == len(mask) == 64


def test_wordpiece_real_pinned_vocab_goldens():
    """K5 over the PINNED vocab artifact (deepref_spark/data/wp_vocab.txt,
    scripts/build_wp_vocab.py): greedy longest-match outputs on the
    reference's own encoder-test tokens (deepref/tests/encoder/
    test_bert_encoder.py:33 item fixture) are frozen here — any vocab or
    matcher drift fails loudly. Algorithm semantics per
    word_piece_tokenizer.py:61-96."""
    assert refsem.wordpiece_real("unaffable") == ["un", "##aff", "##able"]
    # reference fixture sentence tokens ('avian influenza ... virus')
    assert refsem.wordpiece_real("avian") == ["a", "##vi", "##an"]
    assert refsem.wordpiece_real("influenza") == ["in", "##f", "##lue", "##n", "##z", "##a"]
    assert refsem.wordpiece_real("infectious") == ["in", "##fect", "##io", "##us"]
    assert refsem.wordpiece_real("strains") == ["str", "##ain", "##s"]
    assert refsem.wordpiece_real("the") == ["the"]
    # whole corpus-frequent words match as single pieces
    assert refsem.wordpiece_real("customer") == ["customer"]
    assert refsem.wordpiece_real("windowing") == ["window", "##ing"]
    # out-of-alphabet -> [UNK] via is_bad, exactly like a trained vocab
    assert refsem.wordpiece_real("café") == ["[UNK]"]
    # a trained vocab.txt (standard format) drops in via load_wp_vocab
    import tempfile

    with tempfile.NamedTemporaryFile("w", suffix=".txt", delete=False) as f:
        f.write("zz\n##top\nz\n##z\n")
        path = f.name
    v = refsem.load_wp_vocab(path)
    assert refsem.wordpiece_greedy("zzztop", vocab=v) == ["zz", "##z", "##top"]


def test_greedy_wp_sql_walk_equals_python():
    """The kg_tokenize oracle's recursive SQL walk reproduces
    refsem.wordpiece_greedy over the pinned vocab on adversarial words:
    greedy backoff, is_bad -> [UNK] (out-of-alphabet and >200 chars),
    literal special-token substrings, and single chars."""
    import duckdb

    from deepref_spark.queries import _greedy_wp_ctes

    words = [
        "unaffable", "the", "café", "a" * 201, "a" * 200,
        "supercalifragilisticexpialidocious", "miscommunication",
        "x", "(),.", "over9000", "ZZZ", "[unk]", "[UNK]hello",
        "under", "understand", "reenactment",
    ]
    values = ", ".join("('" + w.replace("'", "''") + "')" for w in words)
    sql = (
        "WITH RECURSIVE _seed AS (SELECT 1)"
        + _greedy_wp_ctes(words_sql=f"SELECT word FROM (VALUES {values}) w(word)")
        + "\nSELECT word, pieces FROM wp_walk WHERE bad OR pos >= len(word)"
    )
    got = {w: list(p) for w, p in duckdb.sql(sql).fetchall()}
    vocab = refsem.load_wp_vocab()
    want = {w: refsem.wordpiece_greedy(w, vocab) for w in words}
    assert got == want


def test_basic_tokenize_reference_semantics():
    """BasicTokenizer normalization (reference basic_tokenizer.py:42-63
    + utils.py): lowercase, accent-strip, per-char punctuation split,
    CJK isolation, control-char removal, never_split preservation."""
    bt = refsem.basic_tokenize
    assert bt("Hello, World!") == ["hello", ",", "world", "!"]
    assert bt("Café naïve") == ["cafe", "naive"]          # accents stripped
    assert bt("don't  stop") == ["don", "'", "t", "stop"]            # punct split + ws runs
    assert bt("a中国b") == ["a", "中", "国", "b"]    # CJK isolated
    assert bt("x\x00y�z") == ["xyz"]                            # NUL/replacement dropped
    assert bt("tab\tsep\nline") == ["tab", "sep", "line"]            # ws canonicalized
    # reference QUIRK (basic_tokenizer.py:56-61): never_split skips only
    # the lowercase/accent pass — punctuation split still applies, so
    # specials shatter but keep their CASE ('UNK' not 'unk')
    assert bt("[UNK] stays [MASK]") == ["[", "UNK", "]", "stays", "[", "MASK", "]"]
    assert bt("[unk]") == ["[", "unk", "]"]
    assert bt("A^B`C") == ["a", "^", "b", "`", "c"]                  # ASCII-sym-as-punct rule
    assert bt("", do_lower_case=False) == []
    assert bt("KeepCase", do_lower_case=False) == ["KeepCase"]


def test_wordpiece_basic_composition():
    """wordpiece_basic == basic normalization then greedy wordpiece per
    sub-token (the BertTokenizer composition, bert_tokenizer.py:48-53),
    usable as the wp= kernel for real trained vocabs."""
    vocab = refsem.load_wp_vocab()
    got = refsem.wordpiece_basic("Unaffable,", vocab)
    # 'Unaffable,' -> basic: ['unaffable', ','] -> greedy each
    assert got == refsem.wordpiece_greedy("unaffable", vocab) + refsem.wordpiece_greedy(",", vocab)
    assert got[:1] == ["un"] and got[-1] == ","
    # accents normalize BEFORE vocab lookup: 'Café' matches in-alphabet pieces
    assert refsem.wordpiece_basic("Café", vocab) == refsem.wordpiece_greedy("cafe", vocab)
    # plugs into the scalar K1 kernel unchanged
    ids, mask, p1, p2 = refsem.bert_entity_tokenize(
        ["The", "Café", "serves", "Tea!"], [1, 2], [3, 4], wp=refsem.wordpiece_basic,
    )
    assert p1 == 2 and len(ids) == 128 and mask[0] == 1


def test_greedy_wp_sql_walk_randomized():
    """200 seeded pseudo-random words (mixed in/out-of-alphabet chars,
    lengths 1-24) through the oracle's SQL walk vs the Python greedy
    matcher in ONE DuckDB call — broad-coverage twin of the
    hand-picked adversarial cases."""
    import random

    import duckdb

    from deepref_spark.queries import _greedy_wp_ctes

    rng = random.Random(20260817)
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789(),.#éZ[]-"
    words = sorted({
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 24)))
        for _ in range(200)
    })
    values = ", ".join("('" + w.replace("'", "''") + "')" for w in words)
    sql = (
        "WITH RECURSIVE _seed AS (SELECT 1)"
        + _greedy_wp_ctes(words_sql=f"SELECT word FROM (VALUES {values}) w(word)")
        + "\nSELECT word, pieces FROM wp_walk WHERE bad OR pos >= len(word)"
    )
    got = {w: list(p) for w, p in duckdb.sql(sql).fetchall()}
    vocab = refsem.load_wp_vocab()
    want = {w: refsem.wordpiece_greedy(w, vocab) for w in words}
    assert got == want


def test_basic_tokenize_invariants():
    """Structural invariants of the BasicTokenizer pass on seeded random
    text: no empty tokens, punctuation chars are singleton tokens,
    lowercase holds outside never_split, and the pass is idempotent on
    its own space-joined output (the BertTokenizer composition feeds
    ' '.join(tokens) to wordpiece — a second basic pass must not change
    it)."""
    import random

    rng = random.Random(42)
    chars = "aAbB12 .,!\t()é中\x00-"
    for _ in range(100):
        text = "".join(rng.choice(chars) for _ in range(rng.randint(0, 40)))
        toks = refsem.basic_tokenize(text)
        assert all(toks), f"empty token from {text!r}"
        for t in toks:
            if len(t) > 1:
                assert not any(refsem._is_punct(c) for c in t), (text, t)
            assert t == t.lower() or t in refsem.NEVER_SPLIT, (text, t)
        assert refsem.basic_tokenize(" ".join(toks)) == toks, text
