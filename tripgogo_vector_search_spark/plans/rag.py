"""RAG summary generation (SURVEY.md §2.F `llm_generate`).

Reference contract (streamlit_app.py:109-186): serialize the top-k result
frame to a markdown table (:238), build system+user prompts (:116-131),
POST to an LLM API with <=4 attempts and 2^n-second exponential backoff
(:145,168,180), extract ``candidates[0].content.parts[0].text`` null-safely
(:154), and degrade to fixed apology strings on exhaustion (:181-186).

This module keeps that exact retry/backoff/fallback contract with an
injectable transport: the default is a deterministic offline stub (tests
and air-gapped runs); a real HTTP transport slots in unchanged. k <= 10
rows (streamlit_app.py:209), so collecting to the driver before the call
is the correct distributed design — for *batch* RAG over millions of rows,
run the same ``generate_summary`` per group via ``applyInPandas``.
"""

from __future__ import annotations

import hashlib
import logging
import time
from collections.abc import Callable

from pyspark.sql import DataFrame

_LOG = logging.getLogger(__name__)

MAX_RETRIES = 4       # streamlit_app.py:145
BACKOFF_BASE = 2      # seconds; 2^n at :168,180

SYSTEM_PROMPT = ("You are a travel assistant. Summarize the retrieved "
                 "results for the user's query, citing names and scores.")
FALLBACK_MSG = ("Sorry, the summary service is unavailable right now; "
                "here are the raw top results instead.")


def rows_to_markdown(rows: list[dict]) -> str:
    """Minimal to_markdown(index=False) analogue (streamlit_app.py:238).

    Cell values must be newline-free: the table's row boundaries ARE
    newlines, so a cell containing one would desynchronize anything
    that parses the table back out of the prompt (stub_transport's
    row count) and break the oracle's byte-exact SQL replay. This
    function deliberately does NOT sanitize — callers stringify and
    sanitize payload columns ENGINE-side (regexp_replace CR/LF ->
    space, the llm_generate_batch recipe), so the same bytes are
    reproducible from SQL; a Python-side replace here would be a
    second, invisible authority the oracle would have to mirror."""
    if not rows:
        return "(no rows)"
    cols = list(rows[0].keys())
    lines = ["| " + " | ".join(cols) + " |",
             "| " + " | ".join("---" for _ in cols) + " |"]
    lines += ["| " + " | ".join(str(r[c]) for c in cols) + " |" for r in rows]
    return "\n".join(lines)


def build_payload(rows: list[dict], query: str) -> dict:
    """The JSON payload shape of streamlit_app.py:133-136."""
    user_prompt = (f"User query: {query}\n\nTop results:\n{rows_to_markdown(rows)}"
                   f"\n\nWrite a short comparative summary.")
    return {
        "contents": [{"parts": [{"text": user_prompt}]}],
        "systemInstruction": {"parts": [{"text": SYSTEM_PROMPT}]},
    }


def stub_transport(payload: dict) -> dict:
    """Deterministic offline LLM: response digest derived from the payload,
    wrapped in the provider's nested response shape (so the extraction
    path of streamlit_app.py:154 is exercised for real)."""
    text = payload["contents"][0]["parts"][0]["text"]
    digest = hashlib.md5(text.encode()).hexdigest()[:8]
    n_rows = max(text.count("\n| ") - 1, 0)
    body = f"Summary[{digest}]: compared {n_rows} results for the query."
    return {"candidates": [{"content": {"parts": [{"text": body}]}}]}


ENDPOINT_ENV = "SPARK_RAG_LLM_ENDPOINT"
API_KEY_ENV = "SPARK_RAG_LLM_API_KEY"


def http_transport(payload: dict, endpoint: str | None = None,
                   api_key: str | None = None, timeout: float = 30.0,
                   opener: Callable | None = None) -> dict:
    """Real HTTP POST analogue of the reference's requests.post call
    (streamlit_app.py:142-149): JSON body, api key header, JSON response.
    Raises on transport/HTTP errors so `generate_summary`'s retry loop
    sees failures exactly as the reference's try/except does. stdlib-only
    (urllib); `opener` is injectable for tests."""
    import json
    import os
    import urllib.request

    endpoint = endpoint or os.environ.get(ENDPOINT_ENV)
    if not endpoint:
        raise RuntimeError(f"no LLM endpoint configured ({ENDPOINT_ENV})")
    api_key = api_key if api_key is not None else os.environ.get(API_KEY_ENV, "")
    req = urllib.request.Request(
        endpoint,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json",
                 "x-goog-api-key": api_key},   # header name: streamlit_app.py:146
        method="POST")
    open_fn = opener or urllib.request.urlopen
    with open_fn(req, timeout=timeout) as resp:
        return json.loads(resp.read().decode())


def default_transport() -> Callable[[dict], dict]:
    """The transport slot's production wiring: real HTTP when an endpoint
    is configured in the environment, deterministic stub otherwise (tests,
    air-gapped runs)."""
    import os
    return http_transport if os.environ.get(ENDPOINT_ENV) else stub_transport


def extract_text(response: dict) -> str | None:
    """Null-safe nested extraction (streamlit_app.py:154)."""
    try:
        return response["candidates"][0]["content"]["parts"][0]["text"]
    except (KeyError, IndexError, TypeError):
        return None


def generate_summary(rows: list[dict], query: str,
                     transport: Callable[[dict], dict] = stub_transport,
                     sleeper: Callable[[float], None] = time.sleep,
                     max_retries: int = MAX_RETRIES) -> str:
    """Retry loop with the reference's exact semantics: up to
    ``max_retries`` attempts, exponential ``2^attempt`` backoff between
    them, fixed fallback string on exhaustion or unextractable response.
    Each attempt that raises is logged as a warning naming the
    exception class, so a fallback summary has a recorded cause."""
    payload = build_payload(rows, query)
    for attempt in range(max_retries):
        try:
            text = extract_text(transport(payload))
            if text is not None:
                return text
        except Exception as exc:  # noqa: BLE001 - any failure is retried
            _LOG.warning("summary attempt %d/%d failed (%s: %s)",
                         attempt + 1, max_retries, type(exc).__name__, exc)
        if attempt < max_retries - 1:
            sleeper(BACKOFF_BASE ** attempt)
    return FALLBACK_MSG


def batch_rag_summaries(pruned: DataFrame, group_col: str = "source",
                        row_cols: tuple = ("doc_id", "snippet"),
                        transport: Callable[[dict], dict] = stub_transport,
                        sleeper: Callable[[float], None] = None) -> DataFrame:
    """BATCH RAG — the scale path of the single `generate_summary` call:
    one summary PER GROUP, generated inside the executors via
    ``applyInPandas`` (the module docstring's promised shape: 'for
    batch RAG over millions of rows, run the same generate_summary per
    group'). The reference makes one interactive LLM call per user
    query (streamlit_app.py:221-238); a training-data pipeline makes
    millions — per source, per cluster, per dedup group — and those
    calls must run data-parallel in the executors, never serialized
    through the driver.

    ``pruned`` must already be cut to the per-group top-k (a
    WindowGroupLimit-pruned row_number, k rows per group), with a
    ``rn`` rank column for deterministic row order and every payload
    column in ``row_cols`` PRE-STRINGIFIED engine-side (the
    llm_generate convention — Python's str() is then an identity, so
    the prompt bytes are reproducible from SQL and the whole operator
    is oracle-checkable even though the generation runs in Python).
    The full retry(<=4)/2^n-backoff/fallback contract of
    :func:`generate_summary` applies per group; ``sleeper`` defaults
    to no-sleep inside executors (a real deployment injects
    time.sleep — blocking an executor core on backoff is a deliberate
    throughput/politeness trade a pipeline makes explicitly).

    Scale: one shuffle on the group key; each task holds k rows per
    group, never the corpus; transports that talk to a real endpoint
    fan out as wide as the executor count."""
    import pandas as pd

    slp = sleeper if sleeper is not None else (lambda s: None)
    cols = list(row_cols)

    def summarize(pdf: "pd.DataFrame") -> "pd.DataFrame":
        g = pdf[group_col].iloc[0]
        rows = (pdf.sort_values("rn")[cols]
                .to_dict(orient="records"))
        text = generate_summary(rows, f"digest of {group_col} {g}",
                                transport, slp)
        return pd.DataFrame({group_col: [g], "summary": [text],
                             "n_rows": [len(rows)]})

    return (pruned.groupBy(group_col)
            .applyInPandas(summarize,
                           f"{group_col} string, summary string, "
                           "n_rows bigint"))
