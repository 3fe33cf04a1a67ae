"""RFC 6901 JSON Pointer assembly.

The reference formats error paths with the ``json-pointer`` crate
(reference: src/vm.rs:302-319, src/validator.rs:129-132). Paths are
standardized across all JSL implementations (reference: src/lib.rs:91-98),
so the byte-for-byte rules matter:

* the empty token list renders as ``""`` (the whole-document pointer),
* each token is prefixed with ``/``,
* within a token, ``~`` escapes to ``~0`` and ``/`` escapes to ``~1``
  (RFC 6901 §3; the order matters — escape ``~`` first).
"""

from __future__ import annotations

from collections.abc import Iterable


def escape_token(token: str) -> str:
    """Escape one reference token per RFC 6901 §3."""
    if "~" in token or "/" in token:
        return token.replace("~", "~0").replace("/", "~1")
    return token


def format_pointer(tokens: Iterable[str]) -> str:
    """Render a token list as an RFC 6901 JSON Pointer string."""
    out = []
    for t in tokens:
        out.append("/")
        out.append(escape_token(t))
    return "".join(out)
