"""Text/scalar Column builders — SURVEY.md §2.8 (F1-F21).

Each builder is a pure `pyspark.sql.functions` composition (JVM-side,
whole-stage-codegen'd, no Python in the hot path). Reference semantics are
cited per function as ``ref: file:line`` into /root/reference/.

Rule constants (boilerplate / cutoff / dosage regexes) mirror the
reference's cleaning rule lists — they are *data*, combined here into
single alternation regexes so one `rlike` replaces a 20-iteration Python
loop per line.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Cleaning rule data (ref: fda_rag_extraction/scripts/json_split_and_clean.py)
# Each rule list is joined into one alternation regex below, so one JVM
# rlike replaces a per-line Python regex loop.
# ---------------------------------------------------------------------------

# Cutoff lines mark the end of useful content.
# ref: json_split_and_clean.py:37-59 (searched case-insensitively, re.search)
_CUTOFF_PATTERNS = [
    r"This review.*used.*Assessment Aid",
    r"This review was conducted.*Assessment Aid",
    r"This review used.*Real-Time Oncology Review",
    r"This review used.*RTOR",
    r"This review was conducted under Project Orbis",
    r"The application was granted.*priority review",
    r"The application was granted.*breakthrough",
    r"The application was granted.*orphan",
    r"granted.*priority review",
    r"granted.*breakthrough designation",
    r"granted.*orphan drug designation",
    r"received.*orphan drug designation",
    r"received.*breakthrough designation",
    r"received.*priority review",
]
CUTOFF_RE = "(?is)" + "|".join(f"(?:{p})" for p in _CUTOFF_PATTERNS)

# Boilerplate lines are dropped only when the *line starts* with the pattern.
# ref: json_split_and_clean.py:64-93 (re.match, case-insensitive)
_BOILERPLATE_PATTERNS = [
    r"Follow the Oncology Center of Excellence",
    r"Follow us on X",
    r"Healthcare professionals should report all serious adverse events",
    r"Full prescribing information for\s",
    r"View full prescribing information for\s",
    r"See full prescribing information for\s",
    r"For assistance with single-patient INDs for investigational oncology products",
    r"FDA expedited programs are described in the Guidance for Industry",
    r"A description of FDA expedited programs is in the Guidance",
    r"FDA expedited programs are described in the Guidance",
    r"For information on the COVID-19 pandemic",
    r"FDA: Coronavirus Disease 2019 \(COVID-19\)",
    r"CDC: Coronavirus \(COVID-19\)",
]
BOILERPLATE_RE = "(?is)^(?:" + "|".join(f"(?:{p})" for p in _BOILERPLATE_PATTERNS) + ")"

# Standalone repeated headers dropped entirely.
# ref: json_split_and_clean.py:96-100,212-215
HEADERS_STANDALONE = ("Efficacy and Safety", "Recommended Dosage", "Expedited Programs")

# Dosage-information detectors: a cutoff is *overridden* (only the cutoff
# line itself dropped, scan continues) when any of the next lines contains
# dosage info. ref: json_split_and_clean.py:122-131
_DOSAGE_PATTERNS = [
    r"\d+\s*(?:kg|mg|g|mcg)",
    r"less than.*\d+",
    r"greater than.*\d+",
    r"\d+\s*(?:or|and)\s*(?:greater|less)",
    r"orally.*twice.*daily",
    r"orally.*once.*daily",
    r"mg.*orally",
]
DOSAGE_RE = "(?is)" + "|".join(f"(?:{p})" for p in _DOSAGE_PATTERNS)


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ---------------------------------------------------------------------------
# F1 — fingerprinting
# ---------------------------------------------------------------------------


def fingerprint_key(url: Column | str, title: Column | str, date: Column | str) -> Column:
    """RAG_ID key: md5(url) if url non-empty else md5(title_date).

    ref: fda_watcher.py:86-93 (url-or-title_date fallback).
    """
    basis = F.coalesce(
        F.nullif(_c(url), F.lit("")),
        F.concat_ws("_", _c(title), _c(date)),
    )
    return F.md5(basis)


# ---------------------------------------------------------------------------
# F2 — boilerplate line removal (line-level filter, higher-order functions)
# ---------------------------------------------------------------------------


def strip_boilerplate_lines(
    col: Column | str,
    boilerplate_re: str = BOILERPLATE_RE,
    headers: tuple[str, ...] = HEADERS_STANDALONE,
) -> Column:
    """Drop boilerplate/header lines from a multi-line text column.

    Declared column semantics (hash-checked): split on newline, trim each
    line, drop empties, drop lines matching `boilerplate_re` at line start,
    drop standalone repeated headers, rejoin with single newlines.
    ref: json_split_and_clean.py:61-100,199-217. A custom rule set is any
    line-start-anchored regex, built the way BOILERPLATE_RE is.

    All work happens JVM-side via higher-order functions — no shuffle, no
    Python; scales linearly with text volume.
    """
    lines = F.transform(F.split(_c(col), "\n"), lambda l: F.trim(l))
    headers_arr = F.array(*[F.lit(h) for h in headers])
    kept = F.filter(
        lines,
        lambda l: (l != F.lit(""))
        & ~l.rlike(boilerplate_re)
        & ~F.array_contains(headers_arr, l),
    )
    return F.array_join(kept, "\n")


# ---------------------------------------------------------------------------
# F4/F5/F6/F7 — normalization chain
# ---------------------------------------------------------------------------

_UNICODE_FROM = "–—−‘’“”"
_UNICODE_TO = "---''\"\""


def unicode_normalize(col: Column | str) -> Column:
    """en/em-dash & minus → '-', curly quotes → ASCII.

    ref: json_split_and_clean.py:222-232.
    """
    return F.translate(_c(col), _UNICODE_FROM, _UNICODE_TO)


def collapse_ws(col: Column | str) -> Column:
    """Runs of spaces → one space; 3+ newlines → 2; strip.

    ref: json_split_and_clean.py:234-241.
    """
    out = F.regexp_replace(_c(col), " +", " ")
    out = F.regexp_replace(out, "\n{3,}", "\n\n")
    return F.trim(out)


def strip_md_images(col: Column | str) -> Column:
    """Remove markdown image tags ``![alt](path)``.

    ref: fda…/combine_json_to_jsonl.py:115-116; pdf…/combine_json_to_jsonl.py:51-52.
    """
    return F.regexp_replace(_c(col), r"!\[.*?\]\(.*?\)", "")


def decode_escaped_newlines(col: Column | str) -> Column:
    """Literal backslash-n → real newline. ref: fda…/combine_json_to_jsonl.py:118-119."""
    return F.regexp_replace(_c(col), r"\\n", "\n")


def clean_content(col: Column | str) -> Column:
    """PDF-side content cleanup: images, escaped newlines, 3+ newlines, strip.

    ref: pdf_extraction/combine_json_to_jsonl.py:46-60 (clean_content).
    """
    out = strip_md_images(col)
    out = decode_escaped_newlines(out)
    out = F.regexp_replace(out, "\n{3,}", "\n\n")
    return F.trim(out)


def strip_wrapper_prefix(col: Column | str) -> Column:
    """Strip a ``markdown='...'`` wrapper: leading marker and trailing quote.

    ref: fda_rag_extraction/scripts/combine_json_to_jsonl.py:107-114.
    """
    c = _c(col)
    stripped = F.substring(c, 11, 2_000_000_000)  # after the 10-char prefix
    no_tail = F.when(
        stripped.endswith("'"),
        stripped.substr(F.lit(1), F.length(stripped) - 1),
    ).otherwise(stripped)
    return F.when(c.startswith("markdown='"), no_tail).otherwise(c)


# ---------------------------------------------------------------------------
# F8/F9 — regex metadata extraction
# ---------------------------------------------------------------------------

DOI_PATTERN = r'10\.\d{4,}/[^\s\]\)>",;]+'


def extract_doi_doc_level(col: Column | str, max_chars: int = 5000) -> Column:
    """First DOI in the leading `max_chars`, trailing punctuation stripped.

    Declared (hash-checked) variant of ref pdf_marker_extraction.py:134-163:
    the bibliography guard is applied at *document* level — if the searched
    prefix mentions reference/cited/bibliography, no DOI is emitted. The
    per-match ±100-char context check (exact parity) lives in
    operators/cleaning.extract_doi_exact (pandas_udf).
    """
    head = F.substring(_c(col), 1, max_chars)
    raw = F.regexp_extract(head, DOI_PATTERN, 0)
    cleaned = F.regexp_replace(raw, r"[.,;:\]\)>]+$", "")
    valid = (F.length(cleaned) >= 10) & cleaned.contains("/")
    biblio = F.lower(head).rlike("reference|cited|bibliography")
    return F.when(valid & ~biblio, cleaned).otherwise(F.lit(None).cast("string"))


def extract_year(citation: Column | str) -> Column:
    """Year from ``(YYYY)`` in a citation, else current year.

    ref: pdf_extraction/combine_json_to_jsonl.py:40-43.
    """
    y = F.regexp_extract(_c(citation), r"\((\d{4})\)", 1)
    return F.coalesce(F.nullif(y, F.lit("")), F.date_format(F.current_date(), "yyyy"))


# ---------------------------------------------------------------------------
# F10/F11/F12 — normalization for matching + similarity
# ---------------------------------------------------------------------------


def norm_text(col: Column | str) -> Column:
    """lowercase+strip, punctuation → space, collapse whitespace.

    ref: pubmed_enrichment.py:254-260 (DocumentVerifier.normalize_text).
    Bug-compat: the reference strips BEFORE replacing punctuation and never
    strips again, so trailing punctuation leaves one trailing space — we
    reproduce that exactly (verified in tests/test_reference_parity.py).
    """
    out = F.lower(F.trim(_c(col)))
    out = F.regexp_replace(out, r"[^\w\s]", " ")
    return F.regexp_replace(out, r"\s+", " ")


def norm_doi(col: Column | str) -> Column:
    """lowercase; strip https://doi.org/ and doi: prefixes.

    ref: pubmed_enrichment.py:262-268 (DocumentVerifier.normalize_doi).
    """
    out = F.lower(F.trim(_c(col)))
    out = F.regexp_replace(out, r"^https?://doi\.org/", "")
    out = F.regexp_replace(out, r"^doi:\s*", "")
    return out


def lev_sim(a: Column | str, b: Column | str) -> Column:
    """Normalized edit similarity in [0,1]: 1 - lev(a,b)/max(len).

    Built-in proxy for difflib SequenceMatcher.ratio() >= 0.90
    (ref: pubmed_enrichment.py:286-294); exact-parity difflib pandas_udf in
    operators/enrich.py.
    """
    a, b = _c(a), _c(b)
    denom = F.greatest(F.length(a), F.length(b))
    return F.when(denom == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(a, b) / denom.cast("double")
    )


# ---------------------------------------------------------------------------
# F13/F14/F15 — citation assembly
# ---------------------------------------------------------------------------


def format_authors(authors: Column | str) -> Column:
    """1 author → as-is; ≤3 → "A, B, & C"; >3 → "A et al."; empty → Unknown.

    ref: pubmed_enrichment.py:235-244 (_format_authors).
    """
    a = _c(authors)
    n = F.size(a)
    return (
        F.when(a.isNull() | (n == 0), F.lit("Unknown"))
        .when(n == 1, F.element_at(a, 1))
        .when(
            n <= 3,
            F.concat(
                F.array_join(F.slice(a, 1, n - 1), ", "),
                F.lit(", & "),
                F.element_at(a, -1),
            ),
        )
        .otherwise(F.concat(F.element_at(a, 1), F.lit(" et al.")))
    )


def citation_line(
    authors_fmt: Column | str,
    year: Column | str,
    title: Column | str,
    journal: Column | str,
    doi: Column | str,
) -> Column:
    """``{authors}. ({year}). {title}. {journal}`` [+ ``. https://doi.org/{doi}``].

    ref: pubmed_enrichment.py:215-219.
    """
    base = F.format_string(
        "%s. (%s). %s. %s", _c(authors_fmt), _c(year), _c(title), _c(journal)
    )
    return F.when(
        F.nullif(_c(doi), F.lit("")).isNotNull(),
        F.concat(base, F.lit(". https://doi.org/"), _c(doi)),
    ).otherwise(base)


def build_link(doi: Column | str, pmid: Column | str) -> Column:
    """https://doi.org/{doi} else https://pubmed.ncbi.nlm.nih.gov/{pmid}.

    ref: pubmed_enrichment.py:221-222,430.
    """
    return F.when(
        F.nullif(_c(doi), F.lit("")).isNotNull(),
        F.concat(F.lit("https://doi.org/"), _c(doi)),
    ).otherwise(F.concat(F.lit("https://pubmed.ncbi.nlm.nih.gov/"), _c(pmid)))


# ---------------------------------------------------------------------------
# F16 — URL absolutize
# ---------------------------------------------------------------------------


def url_absolutize(href: Column | str, base: str) -> Column:
    """urljoin-lite: absolute stays; ``/path`` → base+path; rel → base/rel.

    ref: fda_watcher.py:320-325 (urljoin(BASE_DOMAIN, href) after strip()).
    """
    h = F.trim(_c(href))
    base_noslash = base.rstrip("/")
    return (
        F.when(h.rlike("^https?://"), h)
        .when(h.startswith("/"), F.concat(F.lit(base_noslash), h))
        .otherwise(F.concat(F.lit(base_noslash + "/"), h))
    )


def redact_pii(col: Column | str) -> Column:
    """Redact emails, URLs, and phone-like digit runs — LLM training-data
    hygiene (north star). Order matters: emails first (a URL scrubber would
    leave `user@host` intact), then URLs, then phone runs. Patterns are
    valid and equivalent in Java regex and DuckDB's RE2 (no lookarounds /
    backrefs), so `q_pii_redact` hash-checks the whole chain."""
    c = _c(col)
    c = F.regexp_replace(c, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    c = F.regexp_replace(c, "https?://[^\\s]+", "<URL>")
    c = F.regexp_replace(c, "\\+?[0-9][0-9()\\-. ]{7,}[0-9]", "<PHONE>")
    return c
