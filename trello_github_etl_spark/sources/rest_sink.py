"""Rate-limited, idempotent REST/GraphQL sink connector (SURVEY.md
§2.1 S7–S11, §2.7 ST3–ST5).

The reference serializes every network write with a 3 s sleep
(etl.js:6, 148–151) and exponential backoff on secondary rate limits
(lib/gh.js:16, 32–44: 60 s → ×2 → cap 3660 s, reset on success). Here
the connector runs inside ``foreachPartition`` so upstream transforms
stay parallel, and the sink stage itself runs as ``coalesce(1)``: one
writer, strictly sequential, as the reference loads (ST5).

Transport is injected (a callable), so tests run hermetically against
a recorder and the GitHub HTTP client is just one implementation.
No real network code lives in this repo — `http_transport` documents
the contract and raises unless a session factory is supplied.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Row


@dataclass
class SinkConfig:
    """Throttle/backoff knobs, reference defaults."""

    sleep_s: float = 3.0  # etl.js:6 SLEEP=3000ms between changed upserts
    backoff_start_s: float = 60.0  # lib/gh.js:16
    backoff_cap_s: float = 3660.0  # lib/gh.js:37
    backoff_factor: float = 2.0  # lib/gh.js:36
    max_retries: int = 10


class RateLimited(Exception):
    """Transport signals a secondary rate limit (HTTP 403/429)."""


@dataclass
class _Backoff:
    """Reset-on-success exponential backoff (lib/gh.js:32–44)."""

    cfg: SinkConfig
    current_s: float = field(init=False)

    def __post_init__(self) -> None:
        self.current_s = self.cfg.backoff_start_s

    def on_rate_limit(self, sleep: Callable[[float], None]) -> None:
        sleep(self.current_s)
        self.current_s = min(
            self.current_s * self.cfg.backoff_factor, self.cfg.backoff_cap_s
        )

    def on_success(self) -> None:
        self.current_s = self.cfg.backoff_start_s


def run_sink(
    df: DataFrame,
    transport: Callable[[dict], None],
    cfg: SinkConfig | None = None,
    sleep: Callable[[float], None] = time.sleep,
) -> None:
    """Execute the plan rows through ``transport`` with ST3–ST5 semantics.

    ``transport`` receives one dict per row and either returns (success),
    raises ``RateLimited`` (retry with backoff), or raises anything else
    (fatal → task retry/job abort, preserving at-least-once + idempotent
    keys = effectively-once against an idempotent API).
    """
    cfg = cfg or SinkConfig()
    if cfg.max_retries < 1:
        # range(0) would skip every row WITHOUT calling the transport
        # and the job would complete green — silently-sent-nothing
        # (r4 code review); "no retries" is max_retries=1.
        raise ValueError("max_retries must be >= 1 (1 = no retries)")
    sink_df = df.coalesce(1)  # ST5 strict sequential load

    def handle_partition(rows: Iterator[Row]) -> None:
        backoff = _Backoff(cfg)
        first = True
        for row in rows:
            if not first:
                sleep(cfg.sleep_s)  # ST3 inter-upsert throttle
            first = False
            payload = row.asDict(recursive=True)
            for attempt in range(cfg.max_retries):
                try:
                    transport(payload)
                    backoff.on_success()
                    break
                except RateLimited:
                    if attempt == cfg.max_retries - 1:
                        raise
                    backoff.on_rate_limit(sleep)  # ST4

    sink_df.foreachPartition(handle_partition)


# GraphQL documents, verbatim shapes from the reference connector.
GQL_ADD_PROJECT_ITEM = """
mutation($projectId: String! $issueId: String!) {
    addProjectNextItem(
        input: {
            projectId: $projectId
            contentId: $issueId
        }
    ) {
        projectNextItem {
            id
        }
    }
}"""  # lib/gh.js:348-367

GQL_UPDATE_FIELD = """
mutation(
    $projectId: String!
    $itemId: String!
    $fieldId: String!
    $value: String!
) {
    updateProjectNextItemField(
        input: {
            projectId: $projectId
            itemId: $itemId
            fieldId: $fieldId
            value: $value
        }
    ) {
        projectNextItem {
            id
        }
    }
}"""  # lib/gh.js:455-476


class GraphQLError(Exception):
    """GraphQL 200-OK response carrying an ``errors`` array
    (lib/gh.js:208-218 surfaces these as fatal)."""


def http_transport(
    session,
    owner: str,
    repo: str,
    token: str = "",
    base_url: str = "https://api.github.com",
) -> Callable[[dict], dict | None]:
    """Real REST/GraphQL transport for ``run_sink`` (S7–S12).

    ``session`` is any requests.Session-shaped object (``request(
    method, url, headers=..., json=...) -> response`` with
    ``.status_code`` and ``.json()``); tests inject a recorded-session
    fake, production passes ``requests.Session()``. Payload dicts
    dispatch on ``op``:

    - ``create_issue``: POST /repos/{owner}/{repo}/issues with
      {title, body, assignees} (lib/gh.js:193-195)
    - ``update_issue``: PATCH .../issues/{number} (lib/gh.js:196-202)
    - ``graphql``: POST /graphql {query, variables}; a 200 response
      whose body carries ``errors`` raises GraphQLError
      (lib/gh.js:204-219)
    - ``add_to_project``: addProjectNextItem mutation
      (lib/gh.js:348-367)
    - ``set_field_value``: updateProjectNextItemField mutation
      (lib/gh.js:430-485; single-select option-name→id resolution
      happens upstream in the plan, J12)
    - ``get_or_create_repo``: GET /repos/{owner}/{name}, 404 →
      POST /orgs/{owner}/repos (lib/gh.js:506-527)

    Secondary-rate-limit responses (403/429 whose message mentions
    'secondary rate limit', lib/gh.js:33-38) raise ``RateLimited`` so
    ``run_sink``'s ST4 backoff owns the retry — unlike the reference,
    which recurses inside its request wrapper, the connector keeps
    retry state in exactly one place.
    """
    headers = {
        "accept": "application/vnd.github.v3+json",  # lib/gh.js:25-28
        "Authorization": f"token {token}",
    }

    def _raise_for_status(resp, path: str) -> None:
        """Shared non-2xx mapping: secondary-rate-limit responses →
        RateLimited (run_sink's ST4 backoff owns the retry,
        lib/gh.js:33-38), anything else fatal."""
        if 200 <= resp.status_code < 300:
            return
        try:
            msg = (resp.json() or {}).get("message", "")
        except Exception:  # noqa: BLE001 - non-JSON error body
            msg = ""
        if "secondary rate limit" in str(msg):
            raise RateLimited(msg)
        raise RuntimeError(f"not ok: {resp.status_code} {path}")

    def _request(method: str, path: str, body: dict | None) -> dict:
        resp = session.request(
            method, f"{base_url}{path}", headers=headers, json=body
        )
        _raise_for_status(resp, path)
        return resp.json()

    def _graphql(query: str, variables: dict) -> dict:
        result = _request(
            "POST", "/graphql", {"query": query, "variables": variables}
        )
        if result.get("errors"):
            raise GraphQLError(str(result["errors"]))
        return result

    def transport(payload: dict) -> dict | None:
        op = payload.get("op")
        if op == "create_issue":
            return _request(
                "POST",
                f"/repos/{owner}/{repo}/issues",
                {
                    "title": payload["title"],
                    "body": payload.get("body"),
                    "assignees": payload.get("assignees") or [],
                },
            )
        if op == "update_issue":
            issue = {
                k: payload[k]
                for k in ("title", "body", "assignees", "state")
                if payload.get(k) is not None
            }
            return _request(
                "PATCH",
                f"/repos/{owner}/{repo}/issues/{payload['issue_number']}",
                issue,
            )
        if op == "graphql":
            return _graphql(payload["query"], payload.get("variables") or {})
        if op == "add_to_project":
            result = _graphql(
                GQL_ADD_PROJECT_ITEM,
                {
                    "projectId": payload["project_id"],
                    "issueId": payload["issue_node_id"],
                },
            )
            return result["data"]["addProjectNextItem"]["projectNextItem"]
        if op == "set_field_value":
            result = _graphql(
                GQL_UPDATE_FIELD,
                {
                    "projectId": payload["project_id"],
                    "itemId": payload["item_id"],
                    "fieldId": payload["field_id"],
                    "value": str(payload["value"]),
                },
            )
            return result["data"]["updateProjectNextItemField"][
                "projectNextItem"
            ]
        if op == "get_or_create_repo":
            name = payload["name"]
            resp = session.request(
                "GET", f"{base_url}/repos/{owner}/{name}", headers=headers
            )
            if resp.status_code == 404:  # lib/gh.js:508-513
                return _request(
                    "POST",
                    f"/orgs/{owner}/repos",
                    {"name": name, **payload.get("repo_opts", {})},
                )
            _raise_for_status(resp, f"/repos/{owner}/{name}")
            return resp.json()
        raise ValueError(f"unknown op {op!r}")

    return transport
