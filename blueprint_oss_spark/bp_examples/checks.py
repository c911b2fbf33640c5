"""The reference's checks model, re-expressed in this DSL.

Reference: examples/checks/checks.py:1-450 (MIT-licensed example model;
rule constants and layout structure are identical BY DESIGN — parity
with that model is the goal).  This is the 4th and last reference
example program, and the one exercising the custom-Predicate UDF
surface: it defines four custom predicates (EmptyLineAbove,
IsOrientedHorizontally, IsInPixelPageRegion, EntityStringsAreDisjoint,
checks.py:27-126) which map onto custom_unimpinged / custom_predicate
here.  The reference ships no sample check documents; parity runs on
synthesized fixtures (tests/test_checks.py) like bill_of_lading.

Reference quirk ported faithfully: extract()'s field-type inference
only sees TOP-LEVEL IsDate/IsDollarAmount atoms (bp/tree.py:658-687),
so fields typed through composed predicates (e.g. `is_amount('amount')`
= all_hold(is_dollar_amount, ...)) get entity type Text, where
is_dollar_amount scores 0 — the no_label_amount / no_label_date /
no_label_check_number layouts can therefore never fire in EITHER
engine.  They are still part of the model (and of the pick_best mass
accounting).
"""

from __future__ import annotations

from functools import partial, reduce
from itertools import chain, combinations

from ..model.nodes import combine, extract, pick_best
from ..model.rules import (
    AlignmentLine, Direction, Orientation, all_hold, any_holds,
    are_aligned, are_arranged, are_disjoint, custom_predicate,
    custom_unimpinged, is_date, is_dollar_amount, is_entire_phrase,
    is_in_page_region, is_left_to_right_label_value_pair,
    is_top_down_label_value_pair, line_count_is, non_fatal,
    nothing_between_horizontally, nothing_between_left_edge,
    nothing_between_vertically, one_line_above, penalize, column,
    text_does_not_contain_substring, text_equals, text_has_substring,
    text_properties_are,
)

# Custom predicates (reference: examples/checks/checks.py:20-126)
# ===============================================================


def _space_above(doc, eids):
  """One median-line-height strip above the entity
  (checks.py:20-25)."""
  (e,) = eids
  mlh = doc.median_line_height
  return (doc.ex0[e], doc.ex1[e], doc.ey0[e] - mlh, doc.ey0[e])


empty_line_above = custom_unimpinged(
    _space_above, Orientation.VERTICAL, degree=1,
    name='empty_line_above')


def _is_oriented_horizontally(doc, eids):
  """Binary orientation judge (checks.py:50-63)."""
  (e,) = eids
  if (doc.ey1[e] - doc.ey0[e]) > (doc.ex1[e] - doc.ex0[e]) * 1.5:
    return 0.0
  return 1.0


def is_oriented_horizontally():
  return custom_predicate(_is_oriented_horizontally, degree=1,
                          name='is_oriented_horizontally')


def _is_in_pixel_page_region(doc, eids, *, y_offset_pixels, direction):
  """Pixel-anchored page region (checks.py:69-104): page height = sum
  of heights of pages INTERSECTING the entity's bbox (closed-interval
  touch counts, bp/geometry.py:42-43,179-181); the y-range is measured
  from the DOCUMENT origin (the reference's own FIXME'd quirk — ported
  as-is); score = fraction of the entity's y-interval inside it."""
  (e,) = eids
  ex0, ex1, ey0, ey1 = doc.ex0[e], doc.ex1[e], doc.ey0[e], doc.ey1[e]
  page_height = 0.0
  for p in range(len(doc.page_number)):
    if not (doc.px1[p] < ex0 or ex1 < doc.px0[p]) and \
       not (doc.py1[p] < ey0 or ey1 < doc.py0[p]):
      page_height += doc.py1[p] - doc.py0[p]
  if y_offset_pixels >= page_height:
    return 1.0
  if direction == Direction.TOP_DOWN:
    ra, rb = 0.0, y_offset_pixels
  elif direction == Direction.BOTTOM_UP:
    ra, rb = page_height - y_offset_pixels, page_height
  else:
    raise ValueError('Invalid direction')
  # Interval.contains_percentage_of (bp/geometry.py:56-61)
  if ey1 - ey0 == 0:
    return 1.0 if ra <= ey0 <= rb else 0.0
  lo, hi = max(ra, ey0), min(rb, ey1)
  return (hi - lo) / (ey1 - ey0) if hi >= lo else 0.0


def is_in_pixel_page_region(y_offset_pixels: float, direction: str):
  return custom_predicate(
      partial(_is_in_pixel_page_region, y_offset_pixels=y_offset_pixels,
              direction=direction),
      degree=1,
      name=f'is_in_pixel_page_region(y_offset_pixels={y_offset_pixels})')


def _entity_strings_are_disjoint(doc, eids):
  """0 iff the two entities' texts share a whitespace token
  (checks.py:107-121)."""
  e1, e2 = eids
  if frozenset(doc.etext[e1].split()) & frozenset(doc.etext[e2].split()):
    return 0.0
  return 1.0


def entity_strings_are_disjoint():
  return custom_predicate(_entity_strings_are_disjoint, degree=2,
                          name='entity_strings_are_disjoint()')


def entity_strings_are_pairwise_disjoint(*fields):
  return [entity_strings_are_disjoint()(a, b)
          for a, b in combinations(fields, 2)]


# Field rules (reference: examples/checks/checks.py:146-287)
# ==========================================================

check_fields = (
    'check_anchor', 'date', 'amount', 'check_number', 'payor',
    'pay_to_label', 'payee', 'payee_address')

LETTERS = 'ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz'
NUMBERS = '0123456789'
AMOUNT_SYMBOLS = '$:*,. '
PAYOR_SYMBOLS = "':.,-/ "
DATE_SYMBOLS = ':/-, '
CHECK_NUMBER_SYMBOLS = '- '

STREET_WORDS = ('STREET', 'ST', 'ST.', 'DRIVE', 'DR', 'DR.',
                'ROAD', 'RD', 'RD.', 'BOX', 'BLVD', 'BLVD.')

STATE_ABBREVS = (
    'AK', 'AL', 'AR', 'AS', 'AZ', 'CA', 'CO', 'CT', 'DC', 'DE', 'FL',
    'GA', 'GU', 'HI', 'IA', 'ID', 'IL', 'IN', 'KS', 'KY', 'LA', 'MA',
    'MD', 'ME', 'MI', 'MN', 'MO', 'MP', 'MS', 'MT', 'NC', 'ND', 'NE',
    'NH', 'NJ', 'NM', 'NV', 'NY', 'OH', 'OK', 'OR', 'PA', 'PR', 'RI',
    'SC', 'SD', 'TN', 'TX', 'UM', 'UT', 'VA', 'VI', 'VT', 'WA', 'WI',
    'WV', 'WY')

CHECK_WORDS = ('Document', 'Face', 'Check', 'Contains', 'Order',
               'Pay', 'To the', 'Control', 'Amount')

is_date_label = all_hold(
    any_holds(
        text_equals('Date'),
        text_equals('Date:'),
        text_equals('Check date')))

is_check_date = all_hold(
    is_date,
    text_properties_are(
        length={'at_least': 6},
        legal_chars=LETTERS + NUMBERS + DATE_SYMBOLS,
        tolerance=0, taper=1),
    line_count_is({1: 1, 2: 0}))

is_pay_to_label = any_holds(
    text_equals('Pay to'),
    text_equals('To the'),
    text_equals('Order'),
    text_equals('Order of'))

is_check_number_label = all_hold(
    is_entire_phrase,
    any_holds(
        text_equals('No.', tolerance=0),
        text_equals('Check no.'),
        text_equals('Control no.'),
        text_equals('Check'),
        text_equals('Check number'),
        text_equals('Check#')))

is_amount_label = any_holds(
    text_equals('Amount of check'),
    text_equals('Amount'),
    text_equals('Net amount'),
    text_equals('$', tolerance=0, taper=0))

is_amount = all_hold(
    is_dollar_amount,
    text_properties_are(
        length={'at_least': 3},
        legal_chars=NUMBERS + AMOUNT_SYMBOLS,
        min_char_counts=[{'chars': '.', 'count': 1}],
        tolerance=0, taper=2),
    is_entire_phrase)

is_check_anchor = any_holds(
    text_equals('Authorized'),
    text_equals('Signature'),
    text_equals('To the order of'),
    text_equals('Void', tolerance=0),
    text_equals('Watermark'),
    text_equals('Cents'),
    text_equals('Face', tolerance=0),
    text_equals('Background'))

is_check_number = all_hold(
    text_properties_are(
        length={'at_least': 5, 'at_most': 10},
        legal_chars=NUMBERS + CHECK_NUMBER_SYMBOLS,
        tolerance=0, taper=2),
    line_count_is({1: 1, 2: 0}))

is_payor = all_hold(
    is_entire_phrase,
    nothing_between_left_edge,
    text_properties_are(
        length={'at_least': 4},
        legal_chars=LETTERS + PAYOR_SYMBOLS,
        tolerance=0, taper=1),
    all_hold(*(text_does_not_contain_substring(word)
               for word in CHECK_WORDS)),
    is_in_page_region((0.0, 0.5)),
    is_oriented_horizontally())

is_payee = all_hold(
    text_properties_are(
        length={'at_least': 4},
        legal_chars=LETTERS + PAYOR_SYMBOLS,
        tolerance=0, taper=1),
    is_in_page_region((0.0, 0.7)),
    text_does_not_contain_substring('Thousand'),
    text_does_not_contain_substring('Hundred'),
    text_does_not_contain_substring('Cents'),
    text_does_not_contain_substring('Dollars'),
    text_does_not_contain_substring('Document'),
    text_does_not_contain_substring('Date'),
    text_does_not_contain_substring('Amount'),
    text_does_not_contain_substring('Order'),
    text_does_not_contain_substring('Attn'))

is_check_address = all_hold(
    line_count_is(score_dict={1: 0.5, 2: 1.0, 3: 0.5, 4: 0}),
    any_holds(*(non_fatal(text_has_substring(word), 0.7)
                for word in STREET_WORDS)),
    any_holds(*(text_has_substring(word)
                for word in STATE_ABBREVS)),
    all_hold(*(text_does_not_contain_substring(word)
               for word in CHECK_WORDS)))


# Layouts (reference: examples/checks/checks.py:290-356)
# ======================================================

ltr_amount = extract(
    is_amount('amount'),
    is_amount_label('amount_label'),
    is_left_to_right_label_value_pair('amount_label', 'amount')) \
        .with_name('ltr amount')

top_down_amount = extract(
    is_amount('amount'),
    is_amount_label('amount_label'),
    is_top_down_label_value_pair('amount_label', 'amount')) \
        .with_name('top-down amount')

no_label_amount = extract(
    penalize(all_hold(
        is_amount,
        is_in_page_region(x_range=(0.6, 1.0))), 0.7)('amount')) \
            .with_name('no-label amount')

ltr_date = extract(
    is_date('date'),
    is_date_label('date_label'),
    is_left_to_right_label_value_pair('date_label', 'date')) \
        .with_name('ltr date')

top_down_date = extract(
    is_date('date'),
    is_date_label('date_label'),
    is_top_down_label_value_pair('date_label', 'date')) \
        .with_name('top-down date')

bottom_up_date = extract(
    is_date('date'),
    is_date_label('date_label'),
    penalize(is_top_down_label_value_pair)('date', 'date_label'))

no_label_date = extract(
    non_fatal(penalize(all_hold(
        is_check_date,
        is_in_page_region(x_range=(0.7, 1.0))), 0.7), 0.2)('date')) \
            .with_name('no-label date')

ltr_check_number = extract(
    is_check_number('check_number'),
    is_check_number_label('check_number_label'),
    is_left_to_right_label_value_pair(
        'check_number_label', 'check_number')) \
        .with_name('ltr check_number')

top_down_check_number = extract(
    is_check_number('check_number'),
    is_check_number_label('check_number_label'),
    is_top_down_label_value_pair('check_number_label', 'check_number')) \
        .with_name('top-down check_number')

bottom_up_check_number = extract(
    is_check_number('check_number'),
    is_check_number_label('check_number_label'),
    penalize(is_top_down_label_value_pair)(
        'check_number', 'check_number_label'))

no_label_check_number = extract(
    penalize(all_hold(
        is_check_number,
        is_in_page_region(x_range=(0.8, 1.0))), 0.7)('check_number')) \
        .with_name('no-label check number')


# Long tail (reference: examples/checks/checks.py:359-442)
# ========================================================

long_tail_date = pick_best(ltr_date, top_down_date,
                           bottom_up_date, no_label_date) \
    .with_name('long tail date')

long_tail_amount = pick_best(ltr_amount, top_down_amount,
                             no_label_amount) \
    .with_name('long tail amount')

long_tail_check_number = pick_best(
    ltr_check_number, top_down_check_number, no_label_check_number,
    bottom_up_check_number) \
    .with_name('long tail check number')

check_anchor_node = extract(is_check_anchor('check_anchor')) \
    .with_name('long tail check anchor')

long_tail_pay_details = extract(
    is_pay_to_label('pay_to_label'),
    is_payor('payor'),
    is_payee('payee'),
    non_fatal(is_entire_phrase, 0.7)('payee'),
    non_fatal(empty_line_above, 0.75)('payee'),
    is_check_address('payee_address'),
    is_check_address('payor_address'),
    are_arranged(Direction.TOP_DOWN)('payor', 'pay_to_label'),
    any_holds(
        all_hold(
            are_arranged(Direction.LEFT_TO_RIGHT),
            nothing_between_horizontally,
            are_aligned(AlignmentLine.BOTTOMS, tolerance=3, taper=2)),
        all_hold(
            one_line_above,
            nothing_between_vertically),
    )('pay_to_label', 'payee'),
    are_arranged(Direction.TOP_DOWN)('payor', 'payee'),
    are_arranged(Direction.TOP_DOWN)('payor_address', 'payee_address'),
    column('payee', 'payee_address'),
    one_line_above('payor', 'payor_address'),
    nothing_between_vertically('payor', 'payor_address'),
    any_holds(
        are_aligned(AlignmentLine.HORIZONTAL_MIDLINES,
                    tolerance=2, taper=3.5),
        are_aligned(AlignmentLine.LEFT_SIDES, tolerance=2, taper=3.5))
        ('payor', 'payor_address'),
)

extra_rules = (
    *tuple(are_disjoint(a, b) for a, b in combinations(check_fields, 2)),
    *entity_strings_are_pairwise_disjoint('amount', 'check_number',
                                          'date'),
    non_fatal(are_arranged(Direction.TOP_DOWN), 0.5)(
        'check_number', 'amount'),
)

top_check_rules = tuple(chain(
    extra_rules,
    (is_in_pixel_page_region(800, Direction.TOP_DOWN)(field)
     for field in ('check_anchor', 'payor', 'pay_to_label', 'payee')),
    (non_fatal(is_in_pixel_page_region(800, Direction.TOP_DOWN),
               0.8)(field)
     for field in ('date', 'amount'))))

bottom_check_rules = tuple(chain(
    extra_rules,
    (is_in_pixel_page_region(1000, Direction.BOTTOM_UP)(field)
     for field in ('check_anchor', 'payor', 'pay_to_label', 'payee')),
    (non_fatal(is_in_pixel_page_region(1000, Direction.BOTTOM_UP),
               0.8)(field)
     for field in ('date', 'amount'))))

long_tail_top = reduce(combine, (
    check_anchor_node, long_tail_date, long_tail_amount,
    long_tail_check_number, long_tail_pay_details,
)).with_extra_rules(*top_check_rules) \
    .with_name('long tail top check')

long_tail_bottom = reduce(combine, (
    check_anchor_node, long_tail_date, long_tail_amount,
    long_tail_check_number, long_tail_pay_details,
)).with_extra_rules(*bottom_check_rules) \
    .with_name('long tail bottom check')

root = pick_best(long_tail_top, long_tail_bottom) \
    .with_name('long tail top/bottom')
