"""The reference's concrete ingest contract: posts/comments schemas
and default stdlib HTTP fetchers.

The reference ships a FIXED sink contract — a 33-column ``posts`` and a
17-column ``comments`` table (``docker/postgres/init_db_tables.sh:5-39``
and ``:41-59``) — and performs the GET itself with a JSON content-type
and an explicit User-Agent (``posts_pipeline.py:23-27``,
``comments_pipeline.py:38``). The engine pipelines take ``schema`` and
``fetcher`` as parameters; this module supplies the reference's own
values as defaults so a migrating user runs ``posts_pipeline(spark,
default_page_fetcher(), POSTS_SCHEMA, existing)`` with nothing
hand-written.

Type mapping (DDL → ingest schema):

- ``INT`` → IntegerType, ``VARCHAR``/``TEXT`` → StringType,
  ``BOOLEAN`` → BooleanType.
- ``JSON`` → StringType: Spark's ``from_json`` captures a nested
  value hitting a StringType field as its raw JSON text (verified in
  tests), which is exactly the serialized form the reference's
  transform produces and the Postgres JSON column stores — so
  ``normalize_records``'s json-ser pass is a no-op for them and the
  loaded row matches the DDL bit-for-bit.
- ``TIMESTAMP`` → StringType at ingest: the API emits bare-ISO
  ``2020-01-01T12:00:00`` strings; the ts-norm pass
  (``normalize_records(ts_string_cols=...)``) rewrites ``T``→space the
  way ``transform_posts_json`` does (``posts_pipeline.py:38-39``).
- ``word_count`` is NOT fetched — the reference derives it in
  transform (``posts_pipeline.py:41``, ``comments_pipeline.py:74``),
  and ``normalize_records`` derives it here; it completes the 33/17
  column count after normalization.

The fetchers use only the stdlib (urllib) so no optional dependency
gates the default path; inject any richer callable (requests, retry
wrappers) through the same ``PageFetcher``/``KeyFetcher`` signatures.
"""

from __future__ import annotations

import json
import urllib.parse
import urllib.request

from pyspark.sql import types as T

from tia_data_pipeline_spark.sources.rest import KeyFetcher, PageFetcher

#: Base URL of the reference's public API (``posts_pipeline.py:26``).
DEFAULT_BASE_URL = "https://www.techinasia.com/wp-json/techinasia/2.0"

#: Headers the reference sends on every GET (``posts_pipeline.py:26``;
#: the User-Agent default is configurable where "Airflow" was hardcoded).
DEFAULT_HEADERS = {"Content-Type": "application/json", "User-Agent": "tia-data-pipeline-spark"}

#: The reference fetches 30 posts per page (``posts_pipeline.py:26``).
DEFAULT_PER_PAGE = 30

# init_db_tables.sh:5-39 — public.posts, in DDL column order.
# word_count (the 33rd DDL column) is derived by normalize_records.
POSTS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), nullable=False),
        T.StructField("date_gmt", T.StringType(), nullable=False),  # TIMESTAMP, ts-norm
        T.StructField("modified_gmt", T.StringType(), nullable=False),  # TIMESTAMP, ts-norm
        T.StructField("title", T.StringType(), nullable=False),
        T.StructField("slug", T.StringType(), nullable=False),
        T.StructField("status", T.StringType(), nullable=False),
        T.StructField("type", T.StringType(), nullable=False),
        T.StructField("link", T.StringType(), nullable=False),
        T.StructField("content", T.StringType(), nullable=False),
        T.StructField("vsitems", T.StringType(), nullable=True),  # JSON
        T.StructField("live_items", T.StringType(), nullable=True),  # JSON
        T.StructField("excerpt", T.StringType(), nullable=False),
        T.StructField("author", T.StringType(), nullable=True),  # JSON
        T.StructField("editor", T.StringType(), nullable=False),
        T.StructField("comment_status", T.StringType(), nullable=False),
        T.StructField("comments_count", T.IntegerType(), nullable=False),
        T.StructField("comments", T.StringType(), nullable=True),  # JSON
        T.StructField("featured_image", T.StringType(), nullable=True),  # JSON
        T.StructField("post_images", T.StringType(), nullable=True),  # JSON
        T.StructField("seo", T.StringType(), nullable=True),  # JSON
        T.StructField("categories", T.StringType(), nullable=True),  # JSON
        T.StructField("tags", T.StringType(), nullable=True),  # JSON
        T.StructField("companies", T.StringType(), nullable=True),  # JSON
        T.StructField("is_sponsored", T.BooleanType(), nullable=False),
        T.StructField("sponsor", T.StringType(), nullable=True),  # JSON
        T.StructField("is_partnership", T.BooleanType(), nullable=False),
        T.StructField("external_scripts", T.StringType(), nullable=True),  # JSON
        T.StructField("show_ads", T.BooleanType(), nullable=False),
        T.StructField("is_subscriber_exclusive", T.BooleanType(), nullable=False),
        T.StructField("is_paywalled", T.BooleanType(), nullable=False),
        T.StructField("is_inappbrowser", T.BooleanType(), nullable=False),
        T.StructField("read_time", T.IntegerType(), nullable=False),
    ]
)

# init_db_tables.sh:41-59 — public.comments, in DDL column order.
# word_count (the 17th DDL column) is derived by normalize_records.
COMMENTS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), nullable=False),
        T.StructField("post", T.IntegerType(), nullable=False),
        T.StructField("post_title", T.StringType(), nullable=False),
        T.StructField("post_link", T.StringType(), nullable=False),
        T.StructField("post_featured_image", T.StringType(), nullable=True),  # JSON
        T.StructField("post_comments_count", T.IntegerType(), nullable=False),
        T.StructField("content", T.StringType(), nullable=False),
        T.StructField("excerpt", T.StringType(), nullable=False),
        T.StructField("status", T.StringType(), nullable=False),
        T.StructField("type", T.StringType(), nullable=False),
        T.StructField("parent", T.IntegerType(), nullable=True),
        T.StructField("author", T.StringType(), nullable=False),  # JSON
        T.StructField("date_gmt", T.StringType(), nullable=False),  # TIMESTAMP, ts-norm
        T.StructField("can_edit", T.BooleanType(), nullable=False),
        T.StructField("editable_until", T.StringType(), nullable=True),  # TIMESTAMP, ts-norm
        T.StructField("children", T.StringType(), nullable=True),  # JSON
    ]
)


def _http_get_json(url: str, headers: dict[str, str], timeout: float) -> dict:
    req = urllib.request.Request(url, headers=headers)
    with urllib.request.urlopen(req, timeout=timeout) as resp:  # noqa: S310 — http(s) API GET
        return json.loads(resp.read().decode("utf-8"))


def default_page_fetcher(
    *,
    base_url: str = DEFAULT_BASE_URL,
    per_page: int = DEFAULT_PER_PAGE,
    headers: dict[str, str] | None = None,
    timeout: float = 30.0,
    envelope: str = "posts",
    transport=None,
) -> PageFetcher:
    """The reference's posts GET as a :data:`PageFetcher`:
    ``GET {base}/posts?page=N&per_page=30`` with the standard headers,
    envelope-unwrapped (``r.json()['posts']`` —
    ``posts_pipeline.py:23-27``). Stdlib urllib only; runs inside Spark
    tasks (one task per page via ``paginated_rest_source``).

    ``transport(url, headers, timeout) -> dict`` is injectable (tests
    pass a fake; it must be picklable-by-value or importable on
    executors since the fetcher runs inside tasks)."""
    hdrs = dict(DEFAULT_HEADERS if headers is None else headers)
    get = transport if transport is not None else _http_get_json

    def fetch(page: int) -> list[dict]:
        q = urllib.parse.urlencode({"page": page, "per_page": per_page})
        payload = get(f"{base_url}/posts?{q}", hdrs, timeout)
        return payload.get(envelope, [])

    return fetch


def default_key_fetcher(
    *,
    base_url: str = DEFAULT_BASE_URL,
    headers: dict[str, str] | None = None,
    timeout: float = 30.0,
    envelope: str = "comments",
    transport=None,
) -> KeyFetcher:
    """The reference's per-post comments GET as a :data:`KeyFetcher`:
    ``GET {base}/posts/{id}/comments``, envelope-unwrapped
    (``comments_pipeline.py:38-39``). Empty collections return ``[]``,
    which the keyed fan-out source skips — the reference's empty-list
    guard (``comments_pipeline.py:41``). ``transport`` as in
    :func:`default_page_fetcher`."""
    hdrs = dict(DEFAULT_HEADERS if headers is None else headers)
    get = transport if transport is not None else _http_get_json

    def fetch(key: object) -> list[dict]:
        payload = get(f"{base_url}/posts/{key}/comments", hdrs, timeout)
        return payload.get(envelope, [])

    return fetch
