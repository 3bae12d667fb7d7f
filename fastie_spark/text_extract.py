"""html -> text extraction (byte-identical per-url contract).

The input_hint requires the pipeline to *extract* text from the html column
and that the extraction be byte-identical per url versus the reference
extraction (here: the fixture template inverse — fixtures.wrap_html).
``extract_text_py`` runs inside the fused per-doc Arrow stage
(pipeline.run_extraction_fused with from_html=True); tests assert
``extract_text_py(html) == text`` for every fixture page and that the html
and text paths extract the same rows.
"""

from __future__ import annotations

import html as html_mod

_OPEN = "<article>"
_CLOSE = "</article>"


def extract_text_py(raw: bytes) -> str:
    """Template-inverse extraction: utf-8 decode, slice <article> body,
    entity-unescape. Deterministic; the byte-identity gate lives in tests."""
    s = bytes(raw).decode("utf-8", errors="strict")
    i = s.find(_OPEN)
    j = s.rfind(_CLOSE)
    if i == -1 or j == -1 or j < i:
        return ""
    return html_mod.unescape(s[i + len(_OPEN) : j])
