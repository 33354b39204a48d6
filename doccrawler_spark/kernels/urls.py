"""URL canonicalization and hashing kernels.

Reference semantics (cited against /root/reference):
  * fragment strip: ``remove_fragment`` keeps ``(https?://[^\\s#]+)``
    (src/app/usecases/crawler_usecase/helper.py:65-68).  That is the
    ONLY canonicalization the reference applies — no lowercasing, no
    port stripping (SURVEY.md §3.4.3), so ``canonicalize`` here is
    exactly fragment-stripping and must be applied identically in the
    oracle and the engine.
  * same-domain filter compares ``urlparse(x).netloc`` of the link to
    the netloc of the *current page* url
    (src/app/services/crawler_service.py:99-101, helper.py:70-73).
"""

from __future__ import annotations

import re
from urllib.parse import urlparse

_FRAGMENT_RE = re.compile(r"(https?://[^\s#]+)")


def strip_fragment(url: str) -> str:
    """Drop ``#fragment`` (and anything after whitespace) from a URL.

    Mirrors helper.py:65-68: returns the input unchanged when the
    regex does not match (e.g. relative or malformed URLs).
    """
    m = _FRAGMENT_RE.match(url)
    return m.group(1) if m else url


def canonicalize(url: str) -> str:
    """The engine-wide canonical form of a URL (== strip_fragment)."""
    return strip_fragment(url)


def host_of(url: str) -> str:
    """Network location (host[:port]) of a URL; '' when unparseable."""
    try:
        return urlparse(url).netloc
    except ValueError:
        return ""


def url_hash(url: str) -> int:
    """Stable 63-bit hash of a canonical URL (seen-set partition key).

    xxhash-free implementation (stdlib only): SHA1 truncated to 63
    bits.  Stability across Python processes/JVMs matters more than
    speed here; the Spark side uses the same bytes so oracle and
    engine agree.
    """
    import hashlib

    h = hashlib.sha1(url.encode("utf-8")).digest()
    return int.from_bytes(h[:8], "big") & 0x7FFFFFFFFFFFFFFF


def filter_urls_by_domain(page_url: str, links: list[str]) -> list[str]:
    """Keep links on the current page's netloc (helper.py:70-73)."""
    base = host_of(page_url)
    return [u for u in links if host_of(u) == base]
