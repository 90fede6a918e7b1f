"""Boolean query retrieval over the inverted index (extends SURVEY §2.4).

The reference's search surface is a flat bag of terms: the query string is
tokenized to a TermFreqDict and every distinct key is OR-matched with
max-tf scoring (``/root/reference/src/ApiHandler/ApiHandler.const.js:28-34``,
``src/TermMatcher/TermMatcher.class.js:25-53``). There is no way to express
"this AND that" or exclusion. This module adds the classic boolean
retrieval layer on top of the same index. It parses a query to an AST,
and ``serving_index.PostingsIndex.boolean_top`` evaluates it as set
algebra over sorted doc-code arrays:

    term leaf     -> the term's postings slice
    OR            -> union
    AND           -> intersection
    AND NOT       -> difference

Negation is only admitted as a conjunct next to at least one positive
conjunct (``x AND NOT y``); a bare ``NOT y``, ``NOT`` under ``OR``, or an
AND with only negative conjuncts raises ``ValueError`` -- the complement of
a posting list is the whole corpus, which is never materializable at scale.

Scoring stays pinned to the reference semantics: ``score = max(tf)`` over
the query's positive term leaves, ties broken by doc_id ascending, top-k
(SURVEY §2.4 Q3-Q5).

Grammar (operators are case-sensitive UPPERCASE so that lowercase
``and``/``or``/``not`` remain ordinary content words -- they are stopwords
in the index tokenizer and vanish from leaves exactly as they do from
documents):

    query   := orexpr
    orexpr  := andexpr ( OR andexpr )*
    andexpr := unary ( [AND] unary )*      # adjacency = implicit AND
    unary   := NOT unary | atom
    atom    := '(' orexpr ')' | '"' word '"' | word

The index is positionless (term, doc_id, tf), so there is no phrase
search: a quoted word is a plain term, and a quote holding more than one
index term raises ``ValueError`` at parse time.

Every leaf word runs through the SAME ``tokenize_text`` pipeline as the
documents (lowercase, punctuation strip, stopword drop, lemmatize) so query
keys line up with stored terms. A word that normalizes to nothing (a
stopword, a 1-char token) is dropped from its AND/OR list, mirroring the
reference's silent drop of non-index tokens; a word that normalizes to
SEVERAL tokens (punctuation split) becomes an implicit AND of them.

At 100 TB: every leaf is a term-keyed lookup, the set algebra runs over
those narrow doc lists, and nothing ever scans the corpus.
"""

from __future__ import annotations

from dataclasses import dataclass

from .tokenize import tokenize_text

# --------------------------------------------------------------------- AST


@dataclass(frozen=True)
class Term:
    term: str


@dataclass(frozen=True)
class And:
    children: tuple


@dataclass(frozen=True)
class Or:
    children: tuple


@dataclass(frozen=True)
class Not:
    child: object


def _lex(query: str) -> list[str]:
    """Split into parens, quoted strings (kept with their quotes) and words."""
    out: list[str] = []
    i, n = 0, len(query)
    while i < n:
        c = query[i]
        if c.isspace():
            i += 1
        elif c in "()":
            out.append(c)
            i += 1
        elif c == '"':
            j = query.find('"', i + 1)
            if j < 0:
                raise ValueError(f"unbalanced quote in boolean query: {query!r}")
            out.append(query[i : j + 1])
            i = j + 1
        else:
            j = i
            while j < n and not query[j].isspace() and query[j] not in '()"':
                j += 1
            out.append(query[i:j])
            i = j
    return out


class _Parser:
    def __init__(self, tokens: list[str]):
        self.toks = tokens
        self.pos = 0

    def peek(self) -> str | None:
        return self.toks[self.pos] if self.pos < len(self.toks) else None

    def next(self) -> str:
        t = self.toks[self.pos]
        self.pos += 1
        return t

    def or_expr(self):
        parts = [self.and_expr()]
        while self.peek() == "OR":
            self.next()
            parts.append(self.and_expr())
        parts = [p for p in parts if p is not None]
        if not parts:
            return None
        return parts[0] if len(parts) == 1 else Or(tuple(parts))

    def and_expr(self):
        parts = []
        n_atoms = 0
        while True:
            t = self.peek()
            if t is None or t in (")", "OR"):
                break
            if t == "AND":
                self.next()
                continue
            parts.append(self.unary())
            n_atoms += 1
        if n_atoms == 0:
            # dangling operator / empty parens: nothing was even consumed
            # (distinct from leaves that normalized away, which count)
            raise ValueError("boolean query: expected a term or '('")
        parts = [p for p in parts if p is not None]
        if not parts:
            return None
        return parts[0] if len(parts) == 1 else And(tuple(parts))

    def unary(self):
        if self.peek() == "NOT":
            self.next()
            child = self.unary()
            if child is None:
                # the negated word normalized away (stopword): the
                # conjunct excludes nothing
                return None
            return child.child if isinstance(child, Not) else Not(child)
        return self.atom()

    def atom(self):
        t = self.peek()
        if t is None or t == ")":
            raise ValueError("boolean query: expected a term or '('")
        if t == "(":
            self.next()
            inner = self.or_expr()
            if self.peek() != ")":
                raise ValueError("boolean query: unbalanced '('")
            self.next()
            return inner
        self.next()
        if t.startswith('"'):
            words = tokenize_text(t[1:-1])
            if len(words) > 1:
                raise ValueError(
                    f"boolean query: phrase search is not supported: {t}"
                )
            return Term(words[0]) if words else None
        # a single word may normalize to 0, 1 or several index terms
        words = tokenize_text(t)
        if not words:
            return None
        if len(words) == 1:
            return Term(words[0])
        return And(tuple(Term(w) for w in words))


def parse_boolean(query: str):
    """Parse to an AST, or ``None`` if every leaf normalized away.

    Raises ``ValueError`` on syntax errors (unbalanced parens/quotes,
    dangling operators) and on a quote holding several index terms."""
    if not isinstance(query, str):
        raise TypeError("boolean query must be a string")
    toks = _lex(query)
    if not toks:
        return None
    p = _Parser(toks)
    ast = p.or_expr()
    if p.peek() is not None:
        raise ValueError(f"boolean query: unexpected {p.peek()!r}")
    return ast


# ---------------------------------------------------------------- checks


def _check_negation(node) -> None:
    if isinstance(node, Not):
        raise ValueError(
            "negation is only supported as a conjunct beside a positive "
            "one (x AND NOT y) -- the complement of a posting list is "
            "the whole corpus"
        )
    if isinstance(node, Or):
        for c in node.children:
            _check_negation(c)
    elif isinstance(node, And):
        pos = [c for c in node.children if not isinstance(c, Not)]
        if not pos:
            raise ValueError(
                "AND of only negative conjuncts is an unbounded complement"
            )
        for c in pos:
            _check_negation(c)
        for c in node.children:
            if isinstance(c, Not):
                _check_negation(c.child)


def term_leaves(node) -> list[str]:
    """The POSITIVE term leaves, sorted distinct — the score vocabulary.
    Negated subtrees do not contribute."""
    out: set[str] = set()

    def walk(n, neg: bool):
        if isinstance(n, Term):
            if not neg:
                out.add(n.term)
        elif isinstance(n, Not):
            walk(n.child, True)
        elif isinstance(n, (And, Or)):
            for c in n.children:
                walk(c, neg)

    walk(node, False)
    return sorted(out)
