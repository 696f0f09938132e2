"""Live API connectors — the reference's wire protocol, stdlib-only.

Closes the three "missing" items from the round-3 review (the reference's
AWS/connector shell): the REST rewards pull, the GraphQL transactions
pull with TOTP login/session retry, and (in ``serving.http_api``) the
serving endpoint. Semantics mirrored from the public reference:

- login flow with TOTP second factor and a one-shot token-timeout retry
  (api.py:36-86: generate TOTP, POST credentials, and if the response
  carries no ``id_token`` regenerate the TOTP once and re-POST);
- bearer-token session headers for subsequent calls (api.py:79-85);
- rewards GET returning a JSON list of records (api.py:89-105);
- transactions GraphQL POST with server-side pushdown — ``order_by date
  desc``, ``limit``/``offset``, timestamp-range and type filters ride in
  the query variables (api.py:181-200), so the wire transfers only the
  requested slice. The in-engine pushdown twin is plan-asserted in
  tests/test_repair_sources.py; this module reproduces the protocol.

The captcha step is an injection seam (``captcha_provider``): the
reference shells out to a third-party bypass service, which is neither
public infrastructure nor something an engine should embed. TOTP itself
is RFC 6238 over stdlib hmac — no third-party dependency.

Connector-sized data only: pages land driver-side as JSON records, then
:func:`records_to_df` parses them with Spark's JSON parser against a
declared schema (ISO timestamps coerce; bad records stay PERMISSIVE).
At 100 TB volumes sources land as files and use ``readers.read_jsonl``.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import json
import struct
import time
import urllib.error
import urllib.request
from collections.abc import Callable, Iterable, Mapping
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cashback_data_pipeline_spark.plans.pipeline import with_retry
from cashback_data_pipeline_spark.session import local_rows_df

# The reference's GraphQL document, verbatim shape (api.py:189): the
# engine sends the same operation so a Hasura-compatible server applies
# filter/sort/limit/offset before anything crosses the wire.
TRANSACTIONS_QUERY = (
    "query transactions_view($offset: Int, $limit: Int, $from: timestamptz, "
    "$to: timestamptz, $type: String) {\n"
    "  transactions_view_aggregate(\n"
    "    where: {_and: [{date: {_gte: $from}}, {date: {_lte: $to}}]}\n"
    "  ) {\n    aggregate {\n      totalCount: count\n      __typename\n    }\n"
    "    __typename\n  }\n"
    "  transactions_view(\n    order_by: {date: desc}\n    limit: $limit\n"
    "    offset: $offset\n"
    "    where: {_and: [{date: {_gte: $from}}, {date: {_lte: $to}}, "
    "{type: {_eq: $type}}]}\n  ) {\n    id\n    model\n    user_id\n"
    "    currency\n    amount\n    date\n    type\n    is_debit\n"
    "    description\n    __typename\n  }\n}\n"
)


class ConnectorError(RuntimeError):
    """Non-success HTTP response from a source API."""

    def __init__(self, status: int, message: str):
        super().__init__(f"HTTP {status}: {message}")
        self.status = status


def totp_now(secret_b32: str, at: float | None = None, digits: int = 6, interval: int = 30) -> str:
    """RFC 6238 TOTP (the reference's ``pyotp.TOTP(...).now()``,
    api.py:43-44) from the stdlib: HMAC-SHA1 over the big-endian time
    counter, dynamic truncation, zero-padded decimal."""
    counter = int((time.time() if at is None else at) // interval)
    key = base64.b32decode(secret_b32.upper() + "=" * (-len(secret_b32) % 8))
    digest = hmac.new(key, struct.pack(">Q", counter), hashlib.sha1).digest()
    offset = digest[-1] & 0x0F
    code = (struct.unpack(">I", digest[offset : offset + 4])[0] & 0x7FFFFFFF) % (10**digits)
    return str(code).zfill(digits)


def _http_json(
    url: str,
    payload: Mapping[str, Any] | None = None,
    headers: Mapping[str, str] | None = None,
    timeout: float = 30.0,
) -> Any:
    """One JSON request (POST when ``payload`` given, else GET).
    Raises ConnectorError on non-2xx so retry policy can see the status."""
    data = json.dumps(payload).encode() if payload is not None else None
    req = urllib.request.Request(url, data=data, method="POST" if data else "GET")
    req.add_header("Accept", "application/json")
    if data:
        req.add_header("Content-Type", "application/json")
    for k, v in (headers or {}).items():
        req.add_header(k, v)
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return json.loads(resp.read().decode())
    except urllib.error.HTTPError as exc:  # non-2xx
        raise ConnectorError(exc.code, exc.reason) from exc


class ApiSession:
    """Authenticated session against a reference-shaped API.

    Mirrors ``PlutusApi`` behavior (api.py:29-86): lazy login on first
    data call, TOTP + credentials POST, one fresh-TOTP retry when the
    token timed out mid-flight, then a bearer header for the session.
    Transient transport failures follow the pipeline retry policy (C2:
    3 attempts, exponential backoff — infra/lambda.tf:161-173).
    """

    def __init__(
        self,
        base_url: str,
        email: str,
        password: str,
        totp_secret: str,
        client_id: str = "",
        captcha_provider: Callable[[], str] | None = None,
        retry_attempts: int = 3,
        retry_base_delay: float = 1.0,
    ):
        self.base_url = base_url.rstrip("/")
        self.email = email
        self.password = password
        self.totp_secret = totp_secret
        self.client_id = client_id
        self.captcha_provider = captcha_provider or (lambda: "")
        self.retry_attempts = retry_attempts
        self.retry_base_delay = retry_base_delay
        self.headers: dict[str, str] = {}

    # -- auth ---------------------------------------------------------------

    def login(self) -> None:
        """POST credentials + TOTP; on a response without ``id_token``
        regenerate the TOTP once and re-POST (the reference's token-
        timeout retry, api.py:66-78)."""
        url = f"{self.base_url}/auth/login"
        captcha = self.captcha_provider()

        def attempt() -> Mapping[str, Any]:
            return _http_json(
                url,
                {
                    "email": self.email,
                    "token": totp_now(self.totp_secret),
                    "password": self.password,
                    "captcha": captcha,
                    "client_id": self.client_id,
                },
            )

        body = attempt()
        if "id_token" not in body:
            body = attempt()
        if "id_token" not in body:
            raise ConnectorError(401, "login failed: no id_token after TOTP retry")
        self.headers = {"Authorization": "Bearer " + body["id_token"]}

    def _ensure_session(self) -> None:
        if not self.headers:
            self.login()

    def _call(self, url: str, payload: Mapping[str, Any] | None = None) -> Any:
        self._ensure_session()
        return with_retry(
            lambda: _http_json(url, payload, self.headers),
            attempts=self.retry_attempts,
            base_delay=self.retry_base_delay,
        )

    # -- sources ------------------------------------------------------------

    def get_rewards(self) -> list[dict]:
        """S4 — the rewards REST pull (api.py:89-105): GET returning the
        JSON record list. Non-200 raises ConnectorError (the reference
        returns a lambda-shaped error body; the engine propagates)."""
        return self._call(f"{self.base_url}/platform/transactions/pluton")

    def get_transactions(
        self,
        offset: int = 0,
        limit: int | None = None,
        date_from: str | None = None,
        date_to: str | None = None,
        txn_type: str | None = None,
    ) -> list[dict]:
        """S5 — the transactions GraphQL pull with pushdown (api.py:
        181-200): range/type filters, date-desc order, limit/offset all
        evaluate server-side via query variables."""
        body = self._call(
            f"{self.base_url}/v1alpha1/graphql",
            {
                "operationName": "transactions_view",
                "variables": {
                    "offset": offset,
                    "limit": limit,
                    "from": date_from,
                    "to": date_to,
                    "type": txn_type,
                },
                "query": TRANSACTIONS_QUERY,
            },
        )
        return body["data"]["transactions_view"]


def records_to_df(
    spark: SparkSession, records: Iterable[Mapping[str, Any]], schema: T.StructType
) -> DataFrame:
    """Connector page → typed DataFrame via Spark's JSON parser
    (``from_json`` over the page's JSON lines): declared schema, ISO-8601
    timestamp coercion, PERMISSIVE bad-record handling — the parser the
    landed-JSONL scale path (``readers.read_jsonl``) uses, just
    driver-fed."""
    lines = local_rows_df(spark, [(json.dumps(dict(r)),) for r in records], "line string")
    return lines.select(F.from_json("line", schema).alias("r")).select("r.*")


def fetch_rewards_df(spark: SparkSession, session: ApiSession) -> DataFrame:
    from cashback_data_pipeline_spark.schemas import REWARDS_RAW

    return records_to_df(spark, session.get_rewards(), REWARDS_RAW)


def fetch_transactions_df(spark: SparkSession, session: ApiSession, **pushdown: Any) -> DataFrame:
    from cashback_data_pipeline_spark.schemas import TRANSACTIONS_RAW

    return records_to_df(spark, session.get_transactions(**pushdown), TRANSACTIONS_RAW)
