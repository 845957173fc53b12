"""Gazetteer + fuzzy primitive tests (reference tests/test_postprocessing.py:21-58),
plus cross-checks of our Jaro-Winkler against DuckDB (the correctness oracle
engine) so pandas-UDF scores hash-match oracle SQL."""

import duckdb
import pytest

from indian_address_parser_spark.core import fuzzy, gazetteer as G


class TestIndelRatio:
    def test_identical(self):
        assert fuzzy.indel_ratio("LAJPAT NAGAR", "LAJPAT NAGAR") == 100.0

    def test_empty(self):
        assert fuzzy.indel_ratio("", "") == 100.0
        assert fuzzy.indel_ratio("A", "") == 0.0

    def test_typo_scores_high(self):
        # single-char typo in a 12-char string stays above the 80 threshold
        assert fuzzy.indel_ratio("LAJPAT NAGAR", "LAJPAT NAGR") > 90

    def test_known_values(self):
        # ratio = 200*LCS/(la+lb): LCS("ABCD","ABD")=3 → 600/7
        assert abs(fuzzy.indel_ratio("ABCD", "ABD") - 600 / 7) < 1e-9


class TestGazetteer:
    def test_exact_match(self):
        assert G.is_known_locality("LAJPAT NAGAR")
        assert G.is_known_locality("lajpat nagar")

    def test_typo_match(self):
        assert G.is_known_locality("LAJPAT NAGR")

    def test_unknown(self):
        assert not G.is_known_locality("ZZGIBBERISHQQ")

    def test_short_text_skipped(self):
        assert not G.is_known_locality("AB")
        assert G.fuzzy_match("AB") == []

    def test_correct_spelling(self):
        assert G.correct_spelling("DWARKAA") == "DWARKA"
        assert G.correct_spelling("ZZGIBBERISHQQ") is None

    def test_locality_type_suffix(self):
        assert G.get_locality_type("RAJ NAGAR") == "NAGAR"
        assert G.get_locality_type("SOME ENCLAVE") == "ENCLAVE"
        assert G.get_locality_type("XYZ") is None

    def test_pincode_range(self):
        assert G.validate_pincode("110001")
        assert G.validate_pincode("110097")
        assert not G.validate_pincode("110098")
        assert not G.validate_pincode("201301")
        assert not G.validate_pincode("11004")
        assert not G.validate_pincode("ABCDEF")

    def test_fuzzy_match_limit_and_threshold(self):
        matches = G.fuzzy_match("LAJPAT NAGAR", limit=3)
        assert matches and matches[0][0] == "LAJPAT NAGAR" and matches[0][1] == 100.0
        assert all(s >= 80.0 for _, s in matches)


class TestJaroWinklerVsDuckDB:
    """Our JW must agree with DuckDB's jaro_winkler_similarity to 1e-9 so
    that Spark-side scores (pandas UDF) hash-match the DuckDB oracle."""

    CASES = [
        ("MARTHA", "MARHTA"),
        ("DWAYNE", "DUANE"),
        ("DIXON", "DICKSONX"),
        ("LAJPAT NAGAR", "LAJPAT NAGR"),
        ("HOUSE NO 45", "HOUSE NO 46"),
        ("GALI NO 7", "G.NO. 7"),
        ("", ""),
        ("A", ""),
        ("NEW DELHI", "DELHI"),
        ("SWARN PARK", "SWARN PARK"),
        ("ABCDEF", "GHIJKL"),
    ]

    def test_matches_duckdb(self):
        con = duckdb.connect()
        for a, b in self.CASES:
            expected = con.execute(
                "select jaro_winkler_similarity(?, ?)", [a, b]
            ).fetchone()[0]
            assert abs(fuzzy.jaro_winkler(a, b) - expected) < 1e-9, (a, b)

    def test_matches_duckdb_random(self):
        import itertools
        con = duckdb.connect()
        vocab = ["RAJ NAGAR", "RAJNAGAR", "RAJ NAGR", "PREM NAGAR", "SWARN PARK",
                 "SEC 15", "SECTOR 15", "BLOCK B", "B-BLOCK", "110041", "110042"]
        for a, b in itertools.combinations(vocab, 2):
            expected = con.execute(
                "select jaro_winkler_similarity(?, ?)", [a, b]
            ).fetchone()[0]
            assert abs(fuzzy.jaro_winkler(a, b) - expected) < 1e-9, (a, b)
