"""OpenCC TSV-ingest mode (VERDICT r11 #3): loading OpenCC-format
dictionary files replaces the curated tables at plan build — same fold +
translate plan shape, swapped payload — while ``tables=None`` (the gate
path) stays byte-stable. Fixture files use the public OpenCC line format
``source\\ttarget1[ target2 ...]`` with first-candidate-wins."""

from __future__ import annotations

import duckdb
import pytest

from openmaptiles_zh_modifier_spark.functions.zh import (
    load_opencc_tables,
    opencc_tables_from_dir,
    opencc_tables_from_env,
    to_simplified,
    to_simplified_sql,
    to_traditional,
    to_traditional_sql,
)


@pytest.fixture()
def opencc_dir(tmp_path):
    # chars: 頭→头 (plus a decoy 2nd candidate), 髮→发; identity line
    # dropped; one multi-char entry spills into the phrase fold
    (tmp_path / "TSCharacters.txt").write_text(
        "頭\t头 頭\n髮\t发\n一\t一\n㐹\t㐹仡\n", encoding="utf-8"
    )
    (tmp_path / "STCharacters.txt").write_text(
        "头\t頭\n发\t發 髮\n", encoding="utf-8"
    )
    (tmp_path / "TSPhrases.txt").write_text(
        "理髮店\t理发店\n", encoding="utf-8"
    )
    (tmp_path / "STPhrases.txt").write_text(
        "理发\t理髮\n头发\t頭髮\n", encoding="utf-8"
    )
    return str(tmp_path)


def test_tsv_parse_shapes(opencc_dir):
    t = opencc_tables_from_dir(opencc_dir)
    assert ("頭", "头") in zip(t.t2s_from, t.t2s_to)
    assert ("髮", "发") in zip(t.t2s_from, t.t2s_to)
    assert "一" not in t.t2s_from  # identity dropped
    assert ("㐹", "㐹仡") in t.t2s_phrases  # multi-char spill
    assert ("理髮店", "理发店") in t.t2s_phrases
    # STCharacters present -> not derived by reversal; first candidate 發
    assert ("发", "發") in zip(t.s2t_from, t.s2t_to)
    assert ("理发", "理髮") in t.s2t_phrases


def test_reverse_derivation_without_st_file(tmp_path):
    (tmp_path / "TSCharacters.txt").write_text("頭\t头\n", encoding="utf-8")
    t = opencc_tables_from_dir(str(tmp_path))
    assert ("头", "頭") in zip(t.s2t_from, t.s2t_to)


def test_malformed_tsv_raises(tmp_path):
    (tmp_path / "TSCharacters.txt").write_text("頭 头\n", encoding="utf-8")
    with pytest.raises(ValueError, match="no tab"):
        opencc_tables_from_dir(str(tmp_path))
    with pytest.raises(FileNotFoundError):
        opencc_tables_from_dir(str(tmp_path / "nope"))


def test_ingested_tables_flip_conversions_and_match_duckdb(spark, opencc_dir):
    t = opencc_tables_from_dir(opencc_dir)
    df = spark.createDataFrame(
        [("頭髮",), ("理髮店",), ("头发",), ("理发",)], "s string"
    )
    got = {
        r.s: (r.simp, r.trad)
        for r in df.select(
            "s",
            to_simplified("s", t).alias("simp"),
            to_traditional("s", t).alias("trad"),
        ).collect()
    }
    # phrase wins over chars where present; chars cover the rest
    assert got["頭髮"] == ("头发", "頭髮")
    assert got["理髮店"] == ("理发店", "理髮店")
    assert got["头发"] == ("头发", "頭髮")
    assert got["理发"] == ("理发", "理髮")

    # oracle twins evaluate identically in DuckDB
    con = duckdb.connect()
    for s, (simp, trad) in got.items():
        q = (
            f"SELECT {to_simplified_sql('v', t)} AS a,"
            f" {to_traditional_sql('v', t)} AS b"
            f" FROM (SELECT '{s}' AS v)"
        )
        assert con.execute(q).fetchone() == (simp, trad)


def test_env_resolution_and_backfill_plumbing(spark, opencc_dir, monkeypatch):
    from openmaptiles_zh_modifier_spark.operators.zh_backfill import (
        backfill_table,
    )

    assert opencc_tables_from_env() is None  # unset = curated gate path
    monkeypatch.setenv("SPARK_GRAFT_OPENCC_DIR", opencc_dir)
    assert opencc_tables_from_env() is not None

    df = spark.createDataFrame(
        [(1, "頭髮", {"name:zh": "頭髮"})],
        "id long, name string, tags map<string,string>",
    )
    row = backfill_table(df).collect()[0]
    # the fixture dictionaries (not the curated ones) produced these
    assert row.tags["name:zh-Hans"] == "头发"
    assert row.tags["name:zh-Hant"] == "頭髮"


def test_curated_path_text_is_independent_of_ingest_feature():
    """The gate-path SQL text must not depend on the ingest machinery:
    tables=None emits the same text whether or not tables were ever
    loaded in the process (byte-stability is what keeps driver hashes
    pinned)."""
    before = (to_simplified_sql("x"), to_traditional_sql("x"))
    load_opencc_tables()  # exercise the loader (all-empty is legal)
    after = (to_simplified_sql("x"), to_traditional_sql("x"))
    assert before == after


# ---------------------------------------------------------------------------
# Round 13 (VERDICT r12 #7): hypothesis property — the compiled plan
# (Spark AND the DuckDB SQL twin) over a RANDOM OpenCC dictionary equals
# a reference Python fold: longest-source-first stable-ordered
# sequential replace, then 1:1 translate; first-candidate-wins per line,
# first-LINE-wins for duplicate char sources, identity pairs dropped,
# multi-char entries spilled to the phrase fold, comments/blanks
# skipped.

from hypothesis import given, settings
from hypothesis import strategies as st

_ALPHA = "甲乙丙丁戊己"  # tiny CJK alphabet forces collisions/overlaps


def _ref_entries(lines):
    """Reference parse: (src, first candidate) per data line, identity
    dropped."""
    pairs = []
    for line in lines:
        body = line.rstrip("\n").rstrip("\r")
        if not body or body.startswith("#"):
            continue
        src, _tab, rest = body.partition("\t")
        dst = rest.split(" ")[0]
        if src != dst:
            pairs.append((src, dst))
    return pairs


def _ref_pairs_from_lines(lines):
    """:func:`_ref_entries`, then first-wins split into a 1:1 alphabet +
    phrase spill (the char-file rule)."""
    frm, to, phrases, seen = [], [], [], set()
    for s, d in _ref_entries(lines):
        if len(s) == 1 and len(d) == 1:
            if s not in seen:
                seen.add(s)
                frm.append(s)
                to.append(d)
        else:
            phrases.append((s, d))
    return "".join(frm), "".join(to), phrases


def _ref_convert(text, frm, to, phrases):
    """Reference fold: longest-source-first (stable) sequential
    str.replace — a replace's OUTPUT is re-scanned by later pairs,
    exactly like the engine's aggregate-reduce — then one translate."""
    for s, d in sorted(phrases, key=lambda p: (-len(p[0]), p[0])):
        text = text.replace(s, d)
    return text.translate(str.maketrans(frm, to))


_token = st.text(alphabet=_ALPHA, min_size=1, max_size=3)
_line = st.one_of(
    st.just(""),
    st.just("# comment"),
    st.tuples(_token, st.lists(_token, min_size=1, max_size=3)).map(
        lambda t: f"{t[0]}\t{' '.join(t[1])}"
    ),
)
_texts = st.lists(
    st.text(alphabet=_ALPHA + "Ax ", min_size=0, max_size=12),
    min_size=1,
    max_size=6,
)


@settings(max_examples=15, deadline=None)
@given(
    ts_lines=st.lists(_line, min_size=0, max_size=10),
    st_lines=st.lists(_line, min_size=0, max_size=10),
    texts=_texts,
)
def test_ingested_plan_equals_reference_fold(
    spark, tmp_path_factory, ts_lines, st_lines, texts
):
    import duckdb

    d = tmp_path_factory.mktemp("opencc")
    (d / "TSCharacters.txt").write_text(
        "".join(ln + "\n" for ln in ts_lines), encoding="utf-8"
    )
    (d / "STCharacters.txt").write_text(
        "".join(ln + "\n" for ln in st_lines), encoding="utf-8"
    )
    # phrase files reuse the same generated lines (multi-char sources
    # land there anyway; char-level lines in a phrase file are legal)
    (d / "TSPhrases.txt").write_text(
        "".join(ln + "\n" for ln in st_lines), encoding="utf-8"
    )
    t = opencc_tables_from_dir(str(d))

    # parse-level rules hold for the char files
    frm, to, spill = _ref_pairs_from_lines(ts_lines)
    assert (t.t2s_from, t.t2s_to) == (frm, to)
    # t2s phrases = TSPhrases entries ++ char-file spill (order kept);
    # a phrase file is not split first-wins like a char file, so a
    # repeated source keeps every entry (the fold applies the first)
    expect_phrases = tuple(_ref_entries(st_lines) + spill)
    assert set(t.t2s_phrases) == set(expect_phrases)

    expected = [
        _ref_convert(x, t.t2s_from, t.t2s_to, list(t.t2s_phrases))
        for x in texts
    ]
    df = spark.createDataFrame([(x,) for x in texts], "txt string")
    got = [
        r.out
        for r in df.select(
            to_simplified("txt", tables=t).alias("out")
        ).collect()
    ]
    assert got == expected
    # DuckDB SQL twin compiles to the same function
    con = duckdb.connect()
    sql = to_simplified_sql("txt", tables=t)
    got_sql = [
        con.execute(f"SELECT {sql} FROM (SELECT ? AS txt)", [x]).fetchone()[0]
        for x in texts
    ]
    assert got_sql == expected

    # the s2t direction: STCharacters split first-wins, its spill is the
    # whole phrase table (no STPhrases file), and a draw without
    # multi-char lines leaves no phrases, so no fold runs at all
    s_frm, s_to, s_spill = _ref_pairs_from_lines(st_lines)
    assert (t.s2t_from, t.s2t_to) == (s_frm, s_to)
    assert t.s2t_phrases == tuple(s_spill)
    expected_t = [_ref_convert(x, s_frm, s_to, s_spill) for x in texts]
    got_t = [
        r.out
        for r in df.select(
            to_traditional("txt", tables=t).alias("out")
        ).collect()
    ]
    assert got_t == expected_t
    sql_t = to_traditional_sql("txt", tables=t)
    got_sql_t = [
        con.execute(f"SELECT {sql_t} FROM (SELECT ? AS txt)", [x]).fetchone()[0]
        for x in texts
    ]
    assert got_sql_t == expected_t
