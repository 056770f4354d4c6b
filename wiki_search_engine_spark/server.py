"""HTTP serving surface — the reference's web API, dependency-free.

The reference is ultimately a web service: an Express app mounting
``GET /query-stem`` (backend/app.js:27, backend/routes/queryProcessor.js:6)
whose controller stems the query, scores, hydrates results and images,
and returns ``{imageResult, textResult, searchTime, profile}`` — or HTTP
400 ``{success:false, result:[], error:'Empty query'}`` for blank input
(backend/controllers/queryController.js:11-59). This module exposes the
same contract over ``SearchEngine.query_response`` with a stdlib
``ThreadingHTTPServer`` (no framework dependency in this environment).

Routes:
    GET /query-stem?query=...&optionName=tfidf|bm25[&k=50]  -> 200 JSON
      [&semantics=and] conjunctive; [&page=N&resultsPerPage=10]
      server-side pagination (the reference client's App.js:145-147
      slice, replayed here so a pager needn't download all k rows)
    GET /query-stem?query=                                   -> 400 JSON
    GET /query-stem?query=...&phrase=true                     -> 200 JSON
      exact-phrase ranking from the positional sidecar (400 when the
      index was built without positions=True)
    GET /suggest?prefix=...[&k=10]                            -> 200 JSON
      autocomplete over the lexicon (SearchEngine.suggest — an
      extension beyond the reference API; blank prefix -> 400)
    GET /correct?term=...[&k=10]                              -> 200 JSON
      spell correction (SearchEngine.correct over the SymSpell
      layout; blank term or missing spell layout -> 400)

Every route serves over a TieredEngine segment list too —
suggest/correct/fuzzy included (tiered.py exposes the same methods
with live-df semantics, answer-identical to the compacted index).
    GET /query-stem?query=...&highlight=true                  -> 200 JSON
      query-term highlighting: snippet words whose analyzed form
      matches a query term are wrapped in <em>..</em>
    GET /query-stem?query=...&fuzzy=true                      -> 200 JSON
      did-you-mean: zero-df query terms swap to their best
      correction before retrieval; the response carries a
      "corrections" {original: replacement} map when anything
      changed (400 when the spell layout is missing)
    GET /health                                              -> 200 {"ok"}
    anything else                                            -> 404

Serving model: the default ``path='local'`` serves queries entirely on
the driver (pyarrow bucket reads + the NumPy block-max kernel — zero
Spark jobs, 15-35 ms p50 at bench scale), so concurrent requests just
interleave threads. ``path='wand'`` routes through Spark jobs for head
terms whose candidate lists exceed driver memory; SparkSession is
thread-safe for that use. This is the search-head topology the engine
is designed for at 10^12 docs: many stateless HTTP heads, one shared
bucket-partitioned index on object storage.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from .engine import SearchEngine


class _Handler(BaseHTTPRequestHandler):
    server: "SearchServer"

    def _send(self, status: int, payload: dict) -> None:
        body = json.dumps(payload).encode("utf-8")
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self) -> None:  # noqa: N802 (stdlib handler contract)
        parsed = urlparse(self.path)
        if parsed.path == "/health":
            self._send(200, {"ok": True})
            return
        if parsed.path == "/suggest":
            self._do_suggest(parse_qs(parsed.query))
            return
        if parsed.path == "/correct":
            self._do_correct(parse_qs(parsed.query))
            return
        if parsed.path != "/query-stem":
            self._send(404, {"success": False, "error": "Not found"})
            return
        qs = parse_qs(parsed.query)
        query = (qs.get("query") or [""])[0]
        option = (qs.get("optionName") or ["tfidf"])[0]
        semantics = (qs.get("semantics") or ["or"])[0].lower()
        if semantics not in ("or", "and"):
            semantics = "or"
        try:
            k = int((qs.get("k") or ["50"])[0])
        except ValueError:
            k = 50
        # clamp: a negative k becomes a Python negative slice in the
        # top-k cuts (returning nearly ALL docs); an unbounded k lets an
        # unauthenticated request force exhaustive hydration
        k = max(1, min(k, 1000))
        # &page=N[&resultsPerPage=10] — optional server-side pagination
        # replaying the reference client's slice (App.js:145-147);
        # absent page keeps the reference's full-top-k response shape
        page = None
        per_page = 10
        try:
            if qs.get("page"):
                page = max(1, int(qs["page"][0]))
            if qs.get("resultsPerPage"):
                per_page = max(1, min(int(qs["resultsPerPage"][0]), k))
        except ValueError:
            page, per_page = None, 10
        # &phrase=true — exact-phrase extension over the positional
        # sidecar (every segment built with positions=True)
        phrase = (qs.get("phrase") or ["false"])[0].lower() in (
            "1", "true", "yes",
        )
        # &fuzzy=true — did-you-mean: zero-df terms corrected via the
        # SymSpell layout before retrieval; response carries a
        # "corrections" map when anything was swapped
        fuzzy = (qs.get("fuzzy") or ["false"])[0].lower() in (
            "1", "true", "yes",
        )
        # &highlight=true — wrap query-term matches in the snippet
        # with <em>..</em> (analyzed-form matching, so stems highlight)
        highlight = (qs.get("highlight") or ["false"])[0].lower() in (
            "1", "true", "yes",
        )
        # &negation=true — Lucene boolean prefixes: "-term" excludes
        # docs, "+term" requires them (opt-in so legacy queries keep
        # the reference's bag-of-words reading)
        negation = (qs.get("negation") or ["false"])[0].lower() in (
            "1", "true", "yes",
        )
        # &synonyms=true — query-time synonym groups from the index's
        # synonyms.json sidecar (no-op when the sidecar is absent)
        synonyms = (qs.get("synonyms") or ["false"])[0].lower() in (
            "1", "true", "yes",
        )
        # &facets=lang[,source] — per-facet counts over the FULL match
        # set (extension beyond the reference API; engine.facet_counts);
        # &facet_top=N caps the categories per facet (default 100)
        facets = (qs.get("facets") or [""])[0].strip()
        try:
            facet_top = int((qs.get("facet_top") or ["100"])[0])
        except ValueError:
            self._send(
                400,
                {
                    "success": False, "result": [],
                    "error": "facet_top must be an integer",
                },
            )
            return
        # &boost=static — additive PageRank authority boost on the
        # local serving path (needs the static_rank sidecar). Every
        # engine serves every flag through one query_response; a
        # combination it cannot serve raises ValueError -> 400 below.
        boost = (qs.get("boost") or [""])[0].strip().lower()
        flags = {
            "boost": boost, "negation": negation, "synonyms": synonyms,
            "highlight": highlight, "fuzzy": fuzzy, "phrase": phrase,
        }
        kwargs = {f: v for f, v in flags.items() if v}
        if facets:
            kwargs["facets"] = facets
            kwargs["facet_top"] = facet_top
        try:
            # &semantics=and — conjunctive retrieval, an extension
            # beyond the reference API (default 'or' is the reference's)
            resp = self.server.engine.query_response(
                query, option_name=option, k=k,
                path=self.server.path_mode, semantics=semantics,
                page=page, per_page=per_page, **kwargs,
            )
        except FileNotFoundError as e:
            # phrase over an index without the sidecar: client error
            self._send(
                400, {"success": False, "result": [], "error": str(e)}
            )
            return
        except ValueError as e:
            # an invalid flag COMBINATION (synonyms+and, fuzzy on a
            # non-local path, ...) is client input, not a server fault —
            # same 400 contract as the other invalid-request bodies
            self._send(
                400, {"success": False, "result": [], "error": str(e)}
            )
            return
        except Exception as e:  # mirror the controller's 500 catch
            self._send(500, {"success": False, "error": str(e)})
            return
        self._send(400 if resp.get("success") is False else 200, resp)

    def _do_suggest(self, qs: dict) -> None:
        """GET /suggest?prefix=...[&k=10] — autocomplete over the
        lexicon (SearchEngine.suggest: driver-side term-range scan,
        zero Spark jobs; an extension beyond the reference API). Blank
        prefix mirrors the empty-query 400 contract."""
        from .engine import EmptyQueryError

        prefix = (qs.get("prefix") or [""])[0]
        try:
            k = int((qs.get("k") or ["10"])[0])
        except ValueError:
            k = 10
        k = max(1, min(k, 100))
        try:
            terms = self.server.engine.suggest(prefix, k=k)
        except EmptyQueryError:
            self._send(
                400,
                {"success": False, "result": [], "error": "Empty query"},
            )
            return
        except Exception as e:
            self._send(500, {"success": False, "error": str(e)})
            return
        self._send(
            200,
            {
                "success": True,
                "result": [
                    {"term": t, "df": df} for t, df in terms
                ],
            },
        )

    def _do_correct(self, qs: dict) -> None:
        """GET /correct?term=...[&k=10] — spell correction over the
        lexicon (SearchEngine.correct: SymSpell candidate lookup +
        verify, zero Spark jobs; an extension beyond the reference
        API). Blank term -> the 400 empty-query contract; an index
        without the spell layout -> 400 with the remedy."""
        from .engine import EmptyQueryError

        term = (qs.get("term") or [""])[0]
        try:
            k = int((qs.get("k") or ["10"])[0])
        except ValueError:
            k = 10
        k = max(1, min(k, 100))
        try:
            hits = self.server.engine.correct(term, k=k)
        except EmptyQueryError:
            self._send(
                400,
                {"success": False, "result": [], "error": "Empty query"},
            )
            return
        except (FileNotFoundError, AttributeError) as e:
            self._send(
                400, {"success": False, "result": [], "error": str(e)}
            )
            return
        except Exception as e:
            self._send(500, {"success": False, "error": str(e)})
            return
        self._send(
            200,
            {
                "success": True,
                "result": [
                    {"term": t, "dist": d, "df": df}
                    for t, d, df in hits
                ],
            },
        )

    def log_message(self, fmt, *args):  # silence per-request stderr
        pass


class SearchServer(ThreadingHTTPServer):
    daemon_threads = True

    def __init__(self, engine: SearchEngine, host: str = "127.0.0.1",
                 port: int = 0, path_mode: str = "local"):
        super().__init__((host, port), _Handler)
        self.engine = engine
        self.path_mode = path_mode


def start_server(
    engine: SearchEngine,
    host: str = "127.0.0.1",
    port: int = 0,
    path_mode: str = "local",
) -> SearchServer:
    """Start serving in a background thread; returns the server (its
    bound port is ``server.server_address[1]`` — port=0 picks a free
    one). ``server.shutdown()`` stops it."""
    server = SearchServer(engine, host, port, path_mode)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server
