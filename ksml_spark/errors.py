"""Errors for the ksml-spark DSL.

The reference evaluator throws on unknown forms
(/root/reference/src/cddr/ksml/eval.clj:395 ``(throw (ex-info "unknown
expression:" ...))``); we preserve that contract.
"""

from __future__ import annotations


class KsmlError(Exception):
    """Base error for DSL evaluation problems."""


class UnknownOperatorError(KsmlError):
    """Raised when a keyword-headed form has no registered operator.

    Mirrors /root/reference/src/cddr/ksml/eval.clj:395.
    """

    def __init__(self, op: str, form=None):
        self.op = op
        self.form = form
        super().__init__(f"unknown expression: {op!r}" + (f" in {form!r}" if form is not None else ""))


class ArityError(KsmlError, ValueError):
    """Operator applied to the wrong number / shape of arguments.

    Also a ``ValueError`` so pre-existing callers catching the stdlib
    type keep working."""


class TypeDispatchError(KsmlError, TypeError):
    """Operator applied to an operand kind it does not support
    (e.g. windowed join of two tables).

    Also a ``TypeError`` so pre-existing callers catching the stdlib
    type keep working."""


class StreamTimeoutError(KsmlError, TimeoutError):
    """A streaming query run to completion (``availableNow``) did not
    finish within its timeout; the query is stopped, since its output
    so far is partial.

    Also a ``TimeoutError`` so stdlib-type handlers keep working."""
