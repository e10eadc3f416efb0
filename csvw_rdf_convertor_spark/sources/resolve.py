"""Driver-side descriptor resolution: locate + load + cache (S2/S3/S6/S8).

Reference behavior (csvw2rdf/convertor.ts:220-318, utils/replace-url.ts,
fetch-cache.ts:16-53): resolve metadata for a CSV URL via Link header →
`/.well-known/csvm` templates → default locations `{+url}-metadata.json`
and `csv-metadata.json` → empty-schema fallback; all fetches memoized and
subject to longest-prefix URL overrides.

This is pure driver-side control flow (never a Spark op). The sandbox has no
network, so only ``file:`` / local-path resolution is active; the HTTP
branch raises cleanly. The resolved descriptor compiles via
``spec.parse_descriptor`` into the broadcastable mapping spec.
"""

from __future__ import annotations

import json
import re
from pathlib import Path
from typing import Any

from ..spec import TableGroupSpec, parse_descriptor

#: default metadata locations, in priority order (convertor.ts:74-77)
DEFAULT_LOCATIONS = ("{+url}-metadata.json", "csv-metadata.json")


class PathOverrides:
    """Longest-prefix URL rewriting (S8; utils/replace-url.ts)."""

    def __init__(self, rules: dict[str, str] | None = None,
                 regex_rules: list[tuple[str, str]] | None = None):
        self.rules = dict(rules or {})
        self.regex_rules = list(regex_rules or [])

    def apply(self, url: str) -> str:
        best = ""
        for prefix in self.rules:
            if url.startswith(prefix) and len(prefix) > len(best):
                best = prefix
        out = self.rules[best] + url[len(best):] if best else url
        for pat, repl in self.regex_rules:
            new = re.sub(pat, repl, out)
            if new != out:
                return new
        return out


class FetchCache:
    """Memoized loads (S6; fetch-cache.ts:16-53). Driver-side dict."""

    def __init__(self, overrides: PathOverrides | None = None):
        self.overrides = overrides or PathOverrides()
        self._cache: dict[str, Any] = {}

    def load_json(self, url: str) -> Any:
        url = self.overrides.apply(url)
        if url in self._cache:
            return self._cache[url]
        if re.match(r"^https?://", url):
            raise NotImplementedError(
                "HTTP descriptor fetch is environment-specific; wire a "
                "requests-backed loader here in production")
        path = Path(url[len("file://"):] if url.startswith("file://") else url)
        data = json.loads(path.read_text())
        self._cache[url] = data
        return data


#: Link types that qualify as metadata references (req-resolve.ts:32-36)
LINK_METADATA_TYPES = frozenset(
    ("application/csvm+json", "application/ld+json", "application/json"))


def parse_link_header(header: str, base: str = "") -> list[str]:
    """All ``rel="describedby"`` metadata targets of an HTTP ``Link``
    header, in header order (req-resolve.ts:37-59 parseLinkHeader).

    Pure string parsing — the network fetch that PRODUCES the header stays
    the environment seam (FetchCache.load_json raises on http). One
    deliberate divergence: the reference slices quotes off attribute values
    unconditionally (``value.slice(1, -1)``), corrupting unquoted values
    like ``rel=describedby``; here quotes are stripped only when present.
    """
    import urllib.parse
    out: list[str] = []
    for entry in header.split(","):
        entry = entry.strip()
        if not entry:
            continue
        parts = [x.strip() for x in entry.split(";")]
        url = parts[0]
        if url.startswith("<") and url.endswith(">"):
            url = url[1:-1]
        attrs: dict[str, str] = {}
        for p in parts[1:]:
            k, _, v = p.partition("=")
            v = v.strip()
            if len(v) >= 2 and v[0] == '"' and v[-1] == '"':
                v = v[1:-1]
            attrs[k.strip().lower()] = v
        if (attrs.get("rel", "").lower() == "describedby"
                and attrs.get("type", "").lower() in LINK_METADATA_TYPES):
            out.append(urllib.parse.urljoin(base, url) if base else url)
    return out


def linked_context_url(headers: dict, response_url: str = "") -> str | None:
    """The metadata URL a response's headers point at, or None — the pure
    half of getLinkedContext (req-resolve.ts:19-30): no Link header, or a
    ``content-type: application/ld+json`` response (the body IS the
    metadata), yields None; otherwise the LAST qualifying target wins
    ("implementations MUST use the metadata file referenced by the last
    Link header")."""
    lower = {str(k).lower(): v for k, v in headers.items()}
    link = lower.get("link")
    if not link or lower.get("content-type") == "application/ld+json":
        return None
    found = parse_link_header(link, response_url)
    return found[-1] if found else None


def locate_metadata(csv_url: str, cache: FetchCache | None = None,
                    headers: dict | None = None) -> str | None:
    """Metadata discovery for a CSV location (convertor.ts:220-318):
    Link header (when response ``headers`` are supplied — the fetch itself
    is the production seam) → sidecar/well-known defaults → None
    (→ empty-schema fallback)."""
    cache = cache or FetchCache()
    if headers:
        linked = linked_context_url(headers, csv_url)
        if linked is not None:
            return linked
    base = Path(csv_url[len("file://"):] if csv_url.startswith("file://") else csv_url)
    for tpl in DEFAULT_LOCATIONS:
        cand = (str(base) + "-metadata.json" if tpl.startswith("{+url}")
                else str(base.parent / tpl))
        if Path(cand).exists():
            return cand
    return None


def _load_normalized(meta_url: str, cache: FetchCache) -> dict:
    """Load a descriptor and run the JSON-LD normalization pass
    (descriptor_norm.normalize_descriptor), so csvw:-prefixed / full-IRI
    keys, @value wrappers, and referenced tableSchema/dialect URLs all
    reach parse_descriptor in compact form."""
    from pathlib import Path

    from ..descriptor_norm import normalize_descriptor

    raw = cache.load_json(meta_url)
    meta_dir = str(Path(str(meta_url)).parent)
    return normalize_descriptor(raw, base=meta_dir, loader=cache.load_json,
                                url=str(meta_url))


def resolve_with_header(csv_url: str, *, cache: FetchCache | None = None,
                        base: str | None = None) -> TableGroupSpec:
    """The reference's full default invocation (P11): locate metadata (or
    fall back to a bare url-bound table), then merge each table's own CSV
    header rows into its schema (processCsvHeader, sources/header.py) —
    so a descriptor-less CSV converts end-to-end with header-derived,
    percent-encoded column names."""
    from ..spec import context_language
    from .header import apply_csv_header

    cache = cache or FetchCache()
    meta = locate_metadata(csv_url, cache)
    if meta is None:
        raw: dict = {"url": csv_url, "tableSchema": {"columns": []}}
    else:
        raw = _load_normalized(meta, cache)
        if "url" not in raw and "tables" not in raw:
            raw = {**raw, "url": csv_url}
    ctx_lang = context_language(raw)
    group_lang = raw.get("lang")
    # table urls are relative to the METADATA document's location (CSVW
    # metadata §5.1.2; the reference resolves them the same way in
    # csv-url-to-rdf), not to the process cwd
    anchor = Path(meta).parent if meta is not None else Path(
        csv_url[len("file://"):] if csv_url.startswith("file://")
        else csv_url).parent
    for t in (raw["tables"] if "tables" in raw else [raw]):
        lang = t.get("lang") or group_lang or ctx_lang or "@none"
        url = cache.overrides.apply(t.get("url", csv_url))
        if not (Path(url).is_absolute() or re.match(r"^[a-z][\w+.-]*://", url)):
            url = str(anchor / url)
        apply_csv_header(t, url, default_lang=lang)
    return parse_descriptor(raw, base or "")
