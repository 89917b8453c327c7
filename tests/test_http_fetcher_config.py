"""HttpFetcher client-config parity (reference core/client.py:86,100-117,
142-177): per-request UA + proxy merge and session-level cookies — pure
helpers unit-tested with a stub session, no network, no Spark."""

from __future__ import annotations

from spiders_for_all_spark.sources.fetcher import (
    HttpFetcher,
    _http_request_kwargs,
    _install_cookies,
)


def test_request_kwargs_merges_ua_timeout_proxies():
    kw = _http_request_kwargs(
        "agent/1.0", 7.5, {"http": "http://proxy:8080"}
    )
    assert kw == {
        "timeout": 7.5,
        "headers": {"User-Agent": "agent/1.0"},
        "proxies": {"http": "http://proxy:8080"},
    }
    # no proxies configured -> key absent (requests falls back to env)
    assert "proxies" not in _http_request_kwargs("agent/1.0", 7.5, None)
    assert "proxies" not in _http_request_kwargs("agent/1.0", 7.5, {})


def test_request_kwargs_copies_proxies():
    """The per-request dict must be a copy — a worker mutating one request's
    kwargs must not leak into the shared config."""
    shared = {"http": "http://proxy:8080"}
    kw = _http_request_kwargs("a", 1.0, shared)
    kw["proxies"]["http"] = "mutated"
    assert shared["http"] == "http://proxy:8080"


class _StubCookies(dict):
    def update(self, other):  # mimic RequestsCookieJar.update
        dict.update(self, other)


class _StubSession:
    def __init__(self):
        self.cookies = _StubCookies()


def test_install_cookies_on_session():
    s = _StubSession()
    _install_cookies(s, {"SESSDATA": "tok", "buvid3": "x"})
    assert dict(s.cookies) == {"SESSDATA": "tok", "buvid3": "x"}
    # None / empty leave the jar untouched
    s2 = _StubSession()
    _install_cookies(s2, None)
    _install_cookies(s2, {})
    assert dict(s2.cookies) == {}


def test_http_fetcher_stores_copies():
    proxies = {"https": "http://p:1"}
    cookies = {"k": "v"}
    f = HttpFetcher(proxies=proxies, cookies=cookies)
    proxies["https"] = "mutated"
    cookies["k"] = "mutated"
    assert f.proxies == {"https": "http://p:1"}
    assert f.cookies == {"k": "v"}
    assert HttpFetcher().proxies is None and HttpFetcher().cookies is None


class _Resp:
    def __init__(self, status, text="", content=b""):
        self.status_code, self.text, self.content = status, text, content

    def iter_content(self, chunk_size):
        for i in range(0, len(self.content), chunk_size):
            yield self.content[i : i + chunk_size]


class _RecordingSession(_StubSession):
    def __init__(self, responses):
        super().__init__()
        self.responses, self.calls = responses, []

    def get(self, url, **kwargs):
        self.calls.append((url, kwargs))
        resp = self.responses[url]
        if isinstance(resp, Exception):
            raise resp
        return resp


def test_http_reader_rotates_user_agent_per_request():
    import requests

    from spiders_for_all_spark.sources.fetcher import _http_reader

    session = _RecordingSession({
        "https://h/p": _Resp(200, text="<html>"),
        "https://h/m.jpg": _Resp(200, content=b"\xff\xd8\xff" + b"x" * 30),
        "https://h/down": requests.ConnectionError("refused"),
    })
    read = _http_reader(3.0, ["ua0", "ua1", "ua2"], None, {"k": "v"}, session=session)
    assert dict(session.cookies) == {"k": "v"}

    status, body, err, ms = read("https://h/p", 0, False)
    assert (status, body, err) == (200, "<html>", None) and ms >= 0
    status, body, err, _ = read("https://h/m.jpg", 0, True)
    assert (status, body, err) == (200, b"\xff\xd8\xff" + b"x" * 30, None)
    status, body, err, ms = read("https://h/down", 0, True)
    assert status is None and body is None and ms >= 0
    assert err == "ConnectionError: refused"
    read("https://h/p", 0, False)

    # one User-Agent per request, rotating whatever the row or attempt
    uas = [kw["headers"]["User-Agent"] for _, kw in session.calls]
    assert uas == ["ua0", "ua1", "ua2", "ua0"]
    assert [kw["stream"] for _, kw in session.calls] == [False, True, True, False]
    assert all(kw["timeout"] == 3.0 for _, kw in session.calls)
